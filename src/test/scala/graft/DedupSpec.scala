package graft

import org.apache.spark.sql.functions._
import scala.util.Random

import graft.operators.Dedup

/** Property tests for the order-dependent sequencing operators (SURVEY §2.3)
  * against sequential in-memory oracles implementing the reference's exact
  * semantics (/root/reference/src/collector/common.rs:8-24).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** The reference's apply_timestamp_dedup, verbatim semantics: offset
    * increments while ts repeats consecutively, resets when ts changes.
    */
  private def refTsDedup(ts: Seq[Long]): Seq[Long] = {
    var last = Long.MinValue; var off = 0L
    ts.map { t =>
      if (t == last) { off += 1 } else { last = t; off = 0 }
      t + off
    }
  }

  // non-decreasing sequences (monotonic log order — the operating regime),
  // seeded for reproducibility
  private def tsRuns(seed: Int): Seq[Long] = {
    val rnd = new Random(seed)
    Seq.fill(40)(rnd.nextLong(6)).scanLeft(1000L)(_ + _)
  }

  test("timestampDedup matches the reference oracle on monotonic runs") {
    (1 to 20).map(tsRuns).foreach { ts =>
      val df = ts.zipWithIndex.map { case (t, i) => (t, i.toLong, "f") }
        .toDF("ts", "line_no", "file")
      val got = Dedup.timestampDedup(df, col("ts"), Seq(col("file")), col("line_no"))
        .orderBy("line_no").select("ts_ns").as[Long].collect().toSeq
      assert(got === refTsDedup(ts))
    }
  }

  test("timestampDedup output strictly increasing within equal-ts runs") {
    val ts = Seq(5L, 5L, 5L, 7L, 7L, 9L)
    val df = ts.zipWithIndex.map { case (t, i) => (t, i.toLong, "f") }.toDF("ts", "line_no", "file")
    val out = Dedup.timestampDedup(df, col("ts"), Seq(col("file")), col("line_no"))
      .orderBy("line_no").select("ts_ns").as[Long].collect()
    assert(out.toSeq === Seq(5L, 6L, 7L, 7L, 8L, 9L))
  }

  test("resume law: carry form == full window on the fresh rows (non-monotonic, straddling, null ts)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // one case: rows (source, ts) in line order, cut at resume point k; few
    // sources and ts values, so equal-ts groups recur out of order and
    // straddle k; None is a parse failure's null ts
    val genCase = for {
      n <- Gen.chooseNum(0, 40)
      rows <- Gen.listOfN(n, for {
        src <- Gen.chooseNum(0, 2)
        ts <- Gen.frequency(8 -> Gen.chooseNum(0L, 3L).map(Option(_)), 1 -> Gen.const(None))
      } yield (s"s$src", ts.map(_ * 1000L)))
      k <- Gen.chooseNum(-1, n)
    } yield (rows, k.toLong)
    val cases = Gen.listOfN(60, genCase).pureApply(Gen.Parameters.default, Seed(3L))
    val all = cases.zipWithIndex.flatMap { case ((rows, k), c) =>
      rows.zipWithIndex.map { case ((src, ts), i) => (c, src, i.toLong, ts, k) }
    }.toDF("case", "source", "line_no", "ts", "k")
    val part = Seq(col("case"), col("source"))
    val isFresh = col("line_no") > col("k")
    def result(df: org.apache.spark.sql.DataFrame) = df.select("case", "line_no", "ts_ns")
    val full = result(Dedup.timestampDedup(all, col("ts"), part, col("line_no")).where(isFresh))
    val carried = all.where(!isFresh).select("case", "source", "line_no", "ts")
    val carry = result(Dedup.timestampDedupCarried(all.where(isFresh), carried, col("ts"), part,
      col("line_no")))
    assert(full.count() === all.where(isFresh).count())
    assert(carry.exceptAll(full).isEmpty && full.exceptAll(carry).isEmpty)
    // the law has teeth: the generator straddles k, and fresh rows alone differ
    val straddling = cases.count { case (rows, k) =>
      val (old, fresh) = rows.zipWithIndex.partition(_._2 <= k)
      fresh.exists { case (r, _) => r._2.isDefined && old.exists(_._1 == r) }
    }
    assert(straddling > 20 && cases.exists(_._1.exists(_._2.isEmpty)))
    val freshOnly = result(Dedup.timestampDedup(all.where(isFresh), col("ts"), part, col("line_no")))
    assert(!freshOnly.exceptAll(full).isEmpty)
  }

  private def refConsecDrop[A](xs: Seq[A]): Seq[A] =
    xs.foldLeft(List.empty[A]) { (acc, x) =>
      if (acc.headOption.contains(x)) acc else x :: acc
    }.reverse

  test("dropConsecutiveDuplicates matches sequential oracle") {
    val abc = Array("a", "b", "c")
    (1 to 20).map { seed =>
      val rnd = new Random(seed)
      Seq.fill(60)(abc(rnd.nextInt(3)))
    }.foreach { vals =>
      val df = vals.zipWithIndex.map { case (v, i) => (v, i.toLong, "f") }
        .toDF("v", "line_no", "file")
      val got = Dedup.dropConsecutiveDuplicates(df, Seq(col("file")), col("line_no"), Seq(col("v")))
        .orderBy("line_no").select("v").as[String].collect().toSeq
      assert(got === refConsecDrop(vals))
    }
  }

  test("securitySerial cycles 1..999 (ref: security_log.rs:105-109)") {
    val df = (1L to 2500L).toDF("line_no")
    val s = df.select(Dedup.securitySerial(col("line_no")).as("s")).as[Long].collect()
    assert(s.min === 1L && s.max === 999L)
    assert(s(0) === 1L && s(998) === 999L && s(999) === 1L && s(2000) === 3L)
  }

  test("intraGroupNanos: counter resets per (part, sec), 0-based in line order") {
    val df = Seq((1L, 10L, 0L), (1L, 10L, 1L), (1L, 11L, 2L), (2L, 10L, 3L))
      .toDF("part", "sec", "line_no")
    val got = Dedup.intraGroupNanos(df, Seq(col("part")), col("sec"), col("line_no"))
      .orderBy("line_no").select("nanos").as[Long].collect()
    assert(got.toSeq === Seq(0L, 1L, 0L, 0L))
  }
}
