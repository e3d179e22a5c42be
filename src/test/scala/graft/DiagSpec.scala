package graft

import java.io.ByteArrayOutputStream

/** The diagnostics main's commands run end to end on the shared session, so
  * they cannot rot unnoticed: each prints what its operator reads.
  */
class DiagSpec extends SparkSpec {

  private def captured(cmd: String, names: String*): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(Diag.run(spark, cmd, Sf, names))
    buf.toString("UTF-8")
  }

  test("explain prints the formatted plan of the named query") {
    val out = captured("explain", "p14_pipeline")
    assert(out.contains(" p14_pipeline "))
    assert(out.contains("== Physical Plan =="))
  }

  test("profile prints the construct/plan/exec split, job totals and rule times") {
    val listeners = org.apache.spark.ListenerCount(spark.sparkContext)
    val out = captured("profile", "p14_pipeline")
    assert(out.contains("[profile] p14_pipeline construct="))
    assert(out.contains("codegenCompiles="))
    assert("""\[profile\]\s+njobs=[1-9]""".r.findFirstIn(out).nonEmpty, out)
    assert(out.contains("=== Metrics of Analyzer/Optimizer Rules ==="))
    assert(org.apache.spark.ListenerCount(spark.sparkContext) === listeners,
      "profile must remove its listener")
  }

  test("unknown command or query name fails loudly") {
    intercept[IllegalArgumentException](Diag.run(spark, "nope", Sf, Nil))
    intercept[IllegalArgumentException](Diag.run(spark, "explain", Sf, Seq("no_such_query")))
  }
}
