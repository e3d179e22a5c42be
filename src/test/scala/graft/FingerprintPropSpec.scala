package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** ScalaCheck properties: TokenFingerprint equals the pure-Scala fold on
  * arbitrary int arrays — including empty arrays, negative token ids, and
  * Int extremes — and WindowHashes the per-window fold, each on generated
  * code only and on the interpreted path.
  *
  * Inputs come from an RDD: over a local `Seq`, `ConvertToLocalRelation`
  * would evaluate the projection through `eval` and the generated code
  * would never run.
  */
class FingerprintPropSpec extends SparkSpec {
  import spark.implicits._

  private def scalaFold(ts: Seq[Int]): Long =
    ts.foldLeft(0L)((acc, t) => (acc * 31L + t) % 1000000007L)

  test("token_fingerprint == scala fold on 200 arbitrary arrays (incl. empty/negative/extreme)") {
    val genArr = Gen.listOf(Gen.oneOf(
      Gen.chooseNum(Int.MinValue, Int.MaxValue), Gen.chooseNum(-10, 10)))
    val samples: Seq[Seq[Int]] =
      Gen.listOfN(197, genArr).sample.get.map(_.toSeq) ++
        Seq(Seq.empty[Int], Seq(Int.MinValue), Seq(Int.MaxValue, Int.MinValue, 0))
    val rows = spark.sparkContext.parallelize(samples.zipWithIndex.map { case (a, i) => (i.toLong, a) }, 2)
    val df = rows.toDF("id", "tokens").select(col("id"), expr("token_fingerprint(tokens)"))
    assertBothLegs(samples.map(scalaFold), "token_fingerprint") {
      df.orderBy("id").as[(Long, Long)].collect().map(_._2).toSeq
    }
  }

  // the per-window fold the sliding WindowHashes must reproduce bit-for-bit
  private def windowFold(s: String, n: Int): Seq[Long] = {
    val cps = s.codePoints.toArray.toSeq
    (0 to cps.length - n).map(i =>
      cps.slice(i, i + n).foldLeft(0L)((acc, c) => (acc * 31L + c) % 1000000007L))
  }

  test("window_hashes slide == per-window fold on arbitrary strings, codegen AND interpreted") {
    val genStr = Gen.oneOf(
      Gen.listOf(Gen.asciiPrintableChar).map(_.mkString),
      Gen.listOf(Gen.oneOf('a', 'b', ' ', 'Z', '0', '~', 'é', '☃')).map(_.mkString))
    val samples: Seq[String] = Gen.listOfN(120, genStr).sample.get ++
      Seq("", "x", "exactly24chars..........", "a" * 200,
        // supplementary-plane (non-BMP) text: one CODE POINT per character —
        // U+1F600 hashes as 128512, never as its two UTF-16 surrogates
        "a😀b😀" + ("c😀" * 30))
    val rows = spark.sparkContext.parallelize(samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }, 2)
    for (n <- Seq(2, 16, 24)) {
      val df = rows.toDF("id", "text")
        .select(col("id"), expr(s"window_hashes(text, $n)").as("hs"))
      assertBothLegs(samples.map(s => windowFold(s, n)), s"window_hashes at n=$n") {
        df.orderBy("id").as[(Long, Seq[Long])].collect().map(_._2).toSeq
      }
    }
  }

  test("WindowHashes.of refuses an (n, modulus) whose int64 slide could overflow") {
    import graft.functions.WindowHashes
    val t = col("text")
    WindowHashes.of(t, 24) // 1e9+7
    WindowHashes.of(t, 5, 2147483647L) // the d-series shingles
    WindowHashes.of(t, 3, 1000000000000000003L) // lmFamiliarity: h never reaches p
    val e = intercept[IllegalArgumentException](WindowHashes.of(t, 24, 1000000000000000003L))
    assert(e.getMessage.contains("overflows int64"))
    intercept[IllegalArgumentException](WindowHashes.of(t, 24, Long.MaxValue / 31))
  }

  test("window_hashes == substr+ascii chain on supplementary-plane text (code-point semantics)") {
    // pins the INTENDED unit — Unicode code points — across all three
    // evaluation paths: WindowHashes iterates codePoints(); Spark's
    // ascii(substr(...)) chain is code-point-based (ascii('😀') = 128512,
    // substr counts code points, not UTF-16 units); DuckDB's oracle fold is
    // too (UTF-8 engine: length('a😀b')=3, ascii(substr('a😀b',2,1))=128512,
    // verified against DuckDB 1.0). A surrogate-pair reading would emit one
    // extra window per non-BMP char and different hash values.
    val n = 3
    val docs = Seq((1L, "a😀b😀c"), (2L, "😀😀😀😀"), (3L, "x😀")).toDF("doc_id", "text")
    val viaExpr = docs
      .where(length(col("text")) >= n)
      .select(col("doc_id"), explode(sequence(lit(1), length(col("text")) - lit(n - 1))).as("i"),
        col("text"))
      .select(col("doc_id"),
        (0 until n).foldLeft(lit(0L)) { (acc, j) =>
          (acc * lit(31L) + ascii(col("text").substr(col("i") + lit(j), lit(1)))) % lit(1000000007L)
        }.as("sub"))
    val viaSlide = docs.select(col("doc_id"),
      explode(graft.functions.WindowHashes.of(col("text"), n)).as("sub"))
    assert(viaExpr.exceptAll(viaSlide).isEmpty && viaSlide.exceptAll(viaExpr).isEmpty,
      "sliding hashes must equal the windowed chain on non-BMP text")
    // and the values are the code-point fold, not a surrogate fold
    assert(viaSlide.where(col("doc_id") === 3).as[(Long, Long)].collect().map(_._2).isEmpty)
    val first = viaSlide.where(col("doc_id") === 1).as[(Long, Long)].collect().map(_._2).min
    val cpFold = Seq('a'.toInt, 0x1F600, 'b'.toInt)
      .foldLeft(0L)((acc, c) => (acc * 31L + c) % 1000000007L)
    assert(viaSlide.as[(Long, Long)].collect().map(_._2).contains(cpFold) && first > 0)
  }

  test("window_hashes matches the windowed substr+ascii Catalyst chain on corpus text") {
    import graft.sources.Tables
    val docs = Tables.documents(spark, Sf).limit(200)
    val n = 24
    val viaExpr = docs
      .where(length(col("text")) >= n)
      .select(col("doc_id"), explode(sequence(lit(1), length(col("text")) - lit(n - 1))).as("i"),
        col("text"))
      .select(col("doc_id"),
        (0 until n).foldLeft(lit(0L)) { (acc, j) =>
          (acc * lit(31L) + ascii(col("text").substr(col("i") + lit(j), lit(1)))) % lit(1000000007L)
        }.as("sub"))
    val viaSlide = docs.select(col("doc_id"),
      explode(graft.functions.WindowHashes.of(col("text"), n)).as("sub"))
    assert(viaExpr.exceptAll(viaSlide).isEmpty && viaSlide.exceptAll(viaExpr).isEmpty,
      "sliding hashes must equal the windowed chain on the real corpus")
  }
}
