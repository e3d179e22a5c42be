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

  /** The reference's rule over a line sequence, per source: the offset
    * counts the earlier lines of the current equal-ts run and resets when
    * ts changes; a line with a null ts is null and left out of the runs.
    */
  private def refExact(rows: Seq[(Option[String], Option[Long])]): Seq[Option[Long]] = {
    val last = scala.collection.mutable.Map.empty[Option[String], (Long, Long)] // ts, offset
    rows.map { case (src, ts) =>
      ts.map { t =>
        val off = last.get(src).collect { case (`t`, o) => o + 1L }.getOrElse(0L)
        last(src) = (t, off)
        t + off
      }
    }
  }

  /** Each source's last line with a ts, from `lines` in line order. */
  private def lastTs(lines: Seq[(Option[String], Option[Long])]): Map[Option[String], Long] =
    lines.collect { case (src, Some(t)) => src -> t }.toMap

  test("timestampDedupExact resets the offset where ts changes: [5,7,5,5] gives [5,7,5,6]") {
    val df = Seq(5L, 7L, 5L, 5L).zipWithIndex.map { case (t, i) => (t, i.toLong, "f") }
      .toDF("ts", "line_no", "file")
    val exact = Dedup.timestampDedupExact(df, col("ts"), col("file"), col("line_no"), Map.empty)
      .orderBy("line_no").select("ts_ns").as[Long].collect().toSeq
    assert(exact === Seq(5L, 7L, 5L, 6L))
    val windowed = Dedup.timestampDedup(df, col("ts"), Seq(col("file")), col("line_no"))
      .orderBy("line_no").select("ts_ns").as[Long].collect().toSeq
    assert(windowed === Seq(5L, 7L, 6L, 7L))
    // a line with a null ts joins no run: [5, null, 5] gives [5, null, 6]
    val gap = Seq[(Option[Long], Long)]((Some(5L), 0L), (None, 1L), (Some(5L), 2L)).toDF("ts", "line_no")
      .withColumn("file", lit("f"))
    val gapped = Dedup.timestampDedupExact(gap, col("ts"), col("file"), col("line_no"), Map.empty)
      .orderBy("line_no").select("ts_ns").collect().map(r => Option(r.get(0))).toSeq
    assert(gapped === Seq(Some(5L), None, Some(6L)))
    // on monotonic runs both forms are the reference
    (1 to 5).map(tsRuns).foreach { ts =>
      val m = ts.zipWithIndex.map { case (t, i) => (t, i.toLong, "f") }.toDF("ts", "line_no", "file")
      val got = Dedup.timestampDedupExact(m, col("ts"), col("file"), col("line_no"), Map.empty)
        .orderBy("line_no").select("ts_ns").as[Long].collect().toSeq
      assert(got === refTsDedup(ts))
    }
  }

  /** One line sequence: (source, ts) in line order, few sources (one of
    * them null) and few ts values, so equal-ts runs recur out of order and
    * sit adjacent; None ts is a parse failure's.
    */
  private val genLines = {
    import org.scalacheck.Gen
    Gen.chooseNum(1, 120).flatMap(n => Gen.listOfN(n, for {
      src <- Gen.frequency(4 -> Gen.chooseNum(0, 2).map(i => Option(s"s$i")), 1 -> Gen.const(None))
      ts <- Gen.frequency(8 -> Gen.chooseNum(0L, 2L).map(t => Option(t * 1000L)), 1 -> Gen.const(None))
    } yield (src, ts)))
  }

  private def linesDf(rows: Seq[(Option[String], Option[Long])], from: Int) =
    rows.zipWithIndex.map { case ((src, ts), i) => (src, (from + i).toLong, ts) }
      .toDF("source", "line_no", "ts")

  private def exact(df: org.apache.spark.sql.DataFrame, carry: Dedup.RunEnds) =
    Dedup.timestampDedupExact(df, col("ts"), col("source"), col("line_no"), carry)

  test("law: timestampDedupExact == the sequential reference, one shot and resumed through manifest run ends") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.table.{SinkTable, Writer}
    val genCase = for {
      lines <- genLines
      cuts <- Gen.listOfN(4, Gen.chooseNum(0, lines.size))
    } yield (lines, (0 +: cuts :+ lines.size).distinct.sorted)
    val cases = Gen.listOfN(12, genCase).pureApply(Gen.Parameters.default, Seed(11L))
    var straddles = 0
    cases.foreach { case (lines, cuts) =>
      val want = refExact(lines)
      val oneShot = exact(linesDf(lines, 0), Map.empty).orderBy("line_no")
        .select("ts_ns").collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long])).toSeq
      assert(oneShot === want)
      // each slice is one commit; its carry is the state the reopened
      // table's last manifest recorded
      val out = java.nio.file.Files.createTempDirectory("graft-runends").toString
      cuts.zip(cuts.tail).zipWithIndex.foreach { case ((lo, hi), i) =>
        val carry = new SinkTable(out).runEnds
        val before = lastTs(lines.take(lo))
        straddles += lines.slice(lo, hi).reverse.collect { case (src, Some(t)) => src -> t }.toMap
          .count { case (src, first) => before.get(src).contains(first) }
        new SinkTable(out).commit(exact(linesDf(lines.slice(lo, hi), lo), carry)
          .withColumn("sink", lit("oplog")).withColumn("bytes", lit(1L))
          .withColumn("parse_ok", lit(true)), i.toLong, Writer.Batch)
      }
      val t = new SinkTable(out)
      val resumed = t.read(spark).orderBy("line_no")
        .select("ts_ns").collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long])).toSeq
      assert(resumed === want, s"cuts $cuts")
      // the last manifest's state is each source's last line with a ts
      val ends = lines.zip(want).collect { case ((src, Some(t)), Some(o)) => src -> Dedup.RunEnd(t, o - t + 1L) }.toMap
      assert(t.runEnds === ends)
    }
    // the law has teeth: fresh lines continue a run across many resume points,
    // and the null source and null ts both occur
    assert(straddles > 8, s"straddles $straddles")
    assert(cases.exists(_._1.exists(_._1.isEmpty)) && cases.exists(_._1.exists(_._2.isEmpty)))
  }

  test("resume law: exact form continued from run ends == one-shot exact on the fresh rows (non-monotonic, straddling, null ts)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // one case: rows (source, ts) in line order, cut at resume point k; few
    // sources and ts values, so equal-ts runs recur and straddle k; None is
    // a parse failure's null ts. A case's sources are named apart from the
    // other cases'.
    val genCase = for {
      n <- Gen.chooseNum(0, 40)
      rows <- Gen.listOfN(n, for {
        src <- Gen.chooseNum(0, 2)
        ts <- Gen.frequency(8 -> Gen.chooseNum(0L, 2L).map(Option(_)), 1 -> Gen.const(None))
      } yield (src, ts.map(_ * 1000L)))
      k <- Gen.chooseNum(-1, n)
    } yield (rows, k.toLong)
    val cases = Gen.listOfN(60, genCase).pureApply(Gen.Parameters.default, Seed(3L))
    val all = cases.zipWithIndex.flatMap { case ((rows, k), c) =>
      rows.zipWithIndex.map { case ((src, ts), i) => (s"c$c-s$src", i.toLong, ts, k) }
    }.toDF("source", "line_no", "ts", "k")
    val isFresh = col("line_no") > col("k")
    def result(df: org.apache.spark.sql.DataFrame) = df.select("source", "line_no", "ts_ns")
    val full = result(exact(all, Map.empty).where(isFresh))
    val carry = Dedup.nextRunEnds(Map.empty, exact(all.where(!isFresh), Map.empty)
      .where(col(Dedup.RunEndCol).isNotNull).select(Dedup.RunEndCol).collect().map(_.getStruct(0)))
    val resumed = result(exact(all.where(isFresh), carry))
    assert(full.count() === all.where(isFresh).count())
    assert(resumed.exceptAll(full).isEmpty && full.exceptAll(resumed).isEmpty)
    // the law has teeth: a source's last committed ts and its first fresh
    // one are often equal, and the fresh rows alone differ
    val straddling = cases.count { case (rows, k) =>
      val (old, fresh) = rows.map { case (src, ts) => (Option(s"$src"), ts) }.splitAt((k + 1L).toInt.max(0))
      val before = lastTs(old)
      fresh.reverse.collect { case (src, Some(t)) => src -> t }.toMap
        .exists { case (src, first) => before.get(src).contains(first) }
    }
    assert(straddling > 10 && cases.exists(_._1.exists(_._2.isEmpty)), s"straddling $straddling")
    val freshOnly = result(exact(all.where(isFresh), Map.empty))
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
