package graft

import org.apache.spark.sql.functions._

import graft.functions.RegexpExtractStruct
import graft.operators.Parse
import graft.sources.Tables

/** RegexpExtractStruct (custom codegen Expression, one regex pass per row)
  * against Spark's own builtins, for both grok regexes Parse uses, over
  * every raw line (every kind, corrupt lines included, so each regex sees
  * matching and non-matching input): group i equals
  * `regexp_extract(line, re, i)` and `matched` equals `line rlike re`,
  * on generated code only and on the interpreted eval path.
  */
class RegexpExtractStructSpec extends SparkSpec {

  private val grok = Seq(Parse.OplogRe -> 4, Parse.NginxRe -> 6)

  private def violations(re: String, n: Int): Long = {
    val raw = Tables.rawEvents(spark, Sf).select(col("raw_line"))
    val line = col("raw_line")
    val m = col("m")
    val bad = ((1 to n).map(i => !(m(s"g$i") <=> regexp_extract(line, re, i))) :+
      !(m("matched") <=> line.rlike(re))).reduce(_ || _)
    val withM = raw.select(line, RegexpExtractStruct.of(line, re, n).as("m"))
    // the law is only meaningful if the corpus has lines on both sides
    assert(withM.where(col("m.matched")).count() > 0, s"no line matches $re")
    assert(withM.where(!col("m.matched")).count() > 0, s"every line matches $re")
    withM.where(bad).count()
  }

  private def lawViolations(): Seq[(String, Long)] =
    grok.map { case (re, n) => re -> violations(re, n) }

  test("oplog: groups == regexp_extract, matched == rlike, corrupt lines too") {
    assert(compiled(violations(Parse.OplogRe, 4)) === 0L)
  }

  test("nginx: groups == regexp_extract, matched == rlike on all raw lines") {
    assert(compiled(violations(Parse.NginxRe, 6)) === 0L)
  }

  test("the law holds with whole-stage codegen off (interpreted path)") {
    interpreted(lawViolations()).foreach { case (re, bad) => assert(bad === 0L, re) }
  }

  test("null-group regex yields empty string, not null") {
    import spark.implicits._
    val r = Seq("ab").toDF("l")
      .select(RegexpExtractStruct.of(col("l"), "(a)(x)?(b)", 3).as("m"))
      .select("m.g1", "m.g2", "m.g3", "m.matched")
      .as[(String, String, String, Boolean)].head()
    assert(r === (("a", "", "b", true)))
  }
}
