package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.StreamPipeline
import graft.table.SinkTable

/** Streaming pipeline: file-source polling analog, exactly-once fan-out via
  * per-batch manifest commits, checkpoint resume across restarts, and
  * watermarked event-time aggregates — mirroring the reference's tail-and-
  * resume semantics (/root/reference/src/collector.rs:25,
  * src/checkpoint.rs:44-116) on Structured Streaming.
  */
class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def stage(dir: String, whereClause: String): Long = {
    val part = Tables.rawEvents(spark, Sf).where(whereClause)
    part.coalesce(1).write.mode("append").parquet(dir)
    part.count()
  }

  test("streamed sink counts equal the batch pipeline's on the same input") {
    val in = tmp("graft-stream-in"); val out = tmp("graft-stream-out")
    val cp = tmp("graft-stream-cp")
    stage(in, "line_no >= 0")

    StreamPipeline.run(spark, in, out, cp).awaitTermination()

    val streamed = new SinkTable(out).read(spark)
      .groupBy("sink").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = StreamPipeline.transform(Tables.rawEvents(spark, Sf))
      .groupBy("sink").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
  }

  test("checkpoint resume: restart picks up only new files, no dupes/gaps") {
    val in = tmp("graft-stream-in2"); val out = tmp("graft-stream-out2")
    val cp = tmp("graft-stream-cp2")
    val n1 = stage(in, "line_no % 2 = 0")
    StreamPipeline.run(spark, in, out, cp).awaitTermination()
    val t = new SinkTable(out)
    assert(t.read(spark).count() === n1)
    val commitsAfterFirst = t.manifests.size

    val n2 = stage(in, "line_no % 2 = 1") // new file arrives
    StreamPipeline.run(spark, in, out, cp).awaitTermination()
    val reopened = new SinkTable(out) // a table lists its manifests at open
    assert(reopened.read(spark).count() === n1 + n2)
    assert(reopened.manifests.size > commitsAfterFirst)
    // no dupes: doc_ids unique across all commits
    val total = reopened.read(spark).count()
    assert(reopened.read(spark).select("doc_id").distinct().count() === total)
  }

  test("replayed micro-batch is skipped (manifest already committed)") {
    val in = tmp("graft-stream-in3"); val out = tmp("graft-stream-out3")
    val cp = tmp("graft-stream-cp3")
    stage(in, "line_no < 100")
    StreamPipeline.run(spark, in, out, cp).awaitTermination()
    val before = new SinkTable(out).read(spark).count()
    // simulate source replay of batch 0: delete the checkpoint, keep sinks
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(cp))
    StreamPipeline.run(spark, in, out, cp).awaitTermination()
    assert(new SinkTable(out).read(spark).count() === before) // idempotent — no dupes
  }

  test("watermarked windowed aggregate matches batch groupBy on drained input") {
    val in = tmp("graft-stream-in4")
    stage(in, "line_no >= 0")
    val parsed = StreamPipeline.transform(StreamPipeline.readRaw(spark, in))
    val q = StreamPipeline.windowedCounts(parsed).writeStream
      .format("memory").queryName("winagg").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // append mode emits only closed windows; on a drained AvailableNow run
    // the final watermark closes all but the max-event-time window
    val got = spark.table("winagg")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val exp = StreamPipeline.windowedCounts(
      StreamPipeline.transform(Tables.rawEvents(spark, Sf)))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got.nonEmpty)
    got.foreach { case (k, v) => assert(exp.get(k).contains(v), s"window $k mismatch") }
  }

  test("streaming session_window agrees with batch session_window and the lag+cumsum form") {
    val evDir = tmp("graft-stream-ev")
    val src = Tables.events(spark, Sf)
    src.write.mode("overwrite").parquet(evDir)
    def prep(df: org.apache.spark.sql.DataFrame) = df.select(col("user_id"),
      col("ts").cast("timestamp").as("event_ts"),
      round(col("value") * 100).cast("long").as("cents"))
    val q = StreamPipeline.sessionAgg(prep(spark.readStream.schema(src.schema).parquet(evDir)))
      .writeStream.format("memory").queryName("sessagg").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getTimestamp(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val got = keyed(spark.table("sessagg"))
    val exp = keyed(StreamPipeline.sessionAgg(prep(src))) // same op, batch mode
    // append mode emits only watermark-closed sessions on a drained run
    assert(got.nonEmpty)
    got.foreach { case (k, v) => assert(exp.get(k).contains(v), s"session $k mismatch") }
    // the lag+cumsum batch form must carve identical sessions: same count,
    // same (user, n_events, sum_cents) multiset
    val lagForm = graft.ops.CurationOps.sessionize(src, gapSec = 1800)
      .select(col("user_id"), col("n_events"), col("sum_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val swForm = StreamPipeline.sessionAgg(prep(src))
      .select(col("user_id"), col("n_events"), col("sum_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(lagForm.toSeq === swForm.toSeq)
  }

  test("streaming curation gate equals the batch gate (stream-static anti-join)") {
    val docsDir = tmp("graft-stream-docs")
    val src = Tables.documents(spark, "/root/testdata/sf0.01")
    src.write.mode("overwrite").parquet(docsDir)
    val cont = graft.ops.CurationOps.decontaminate(
      graft.ops.DedupOps.shingleRows(src, "doc_id", "text", 8),
      col("sid") % 89 === 7, minShared = 60).select("did").localCheckpoint(true)
    val q = StreamPipeline.curationGate(
        spark.readStream.schema(src.schema).parquet(docsDir), cont, minQuality = 80)
      .writeStream.format("memory").queryName("curgate").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("curgate").select("did").collect().map(_.getLong(0)).toSet
    val exp = StreamPipeline.curationGate(src, cont, minQuality = 80)
      .select("did").collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty && got === exp)
  }

  test("streaming near-dup gate equals the batch band-match complement, stateless") {
    val docsDir = tmp("graft-stream-neardup")
    val all = Tables.documents(spark, "/root/testdata/sf0.01")
    // standing corpus = sid % 5 != 0; delta (the stream) = sid % 5 == 0
    val delta = all.where(col("doc_id") % 5 === 0)
    delta.write.mode("overwrite").parquet(docsDir)
    import graft.ops.DedupOps.{bandRows, minhashSigRows, shingleRows}
    def bands(docs: org.apache.spark.sql.DataFrame) =
      bandRows(minhashSigRows(shingleRows(docs, "doc_id", "text", 8), 16), 16, 4)
    val indexBands = bands(all.where(col("doc_id") % 5 =!= 0))
      .select(col("band_idx"), col("band_key")).localCheckpoint(true)
    val q = StreamPipeline.nearDupGate(
        spark.readStream.schema(delta.schema).parquet(docsDir), indexBands)
      .writeStream.format("memory").queryName("neardup_gate").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("neardup_gate").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // batch expectation: delta docs with NO band-key hit against the index
    val dropped = bands(delta).join(indexBands, Seq("band_idx", "band_key"))
      .select("sid").collect().map(_.getLong(0)).toSet
    val exp = delta.select("doc_id").collect().map(_.getLong(0)).toSet -- dropped
    assert(got === exp, "streaming gate diverges from the batch band-match complement")
    // the gate actually gates on this corpus: some docs drop, some pass
    assert(dropped.nonEmpty && got.nonEmpty)
    // batch mode of the same call agrees too
    val batchGot = StreamPipeline.nearDupGate(delta, indexBands)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchGot === exp)
  }

  test("streaming dsir gate: drained == batch call, scores == batch dsirSelect for corpus docs") {
    val docsDir = tmp("graft-stream-dsir")
    val all = Tables.documents(spark, "/root/testdata/sf0.01")
    val (weights, defaultWt) = graft.ops.CurationOps.dsirModel(
      all, col("lang") === "en")
    // stream the raw (non-target) slice through the gate
    val raw = all.where(col("lang") =!= "en")
    raw.write.mode("overwrite").parquet(docsDir)
    val q = StreamPipeline.dsirGate(
        spark.readStream.schema(raw.schema).parquet(docsDir),
        weights, defaultWt, minScore = 0L)
      .writeStream.format("memory").queryName("dsir_gate").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("dsir_gate").select("doc_id", "dsir_score")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch mode of the same call
    val batchGot = StreamPipeline.dsirGate(raw, weights, defaultWt, minScore = 0L)
      .select("doc_id", "dsir_score")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === batchGot)
    // fit-corpus docs have every bucket in the map → gate scores equal the
    // batch selection operator's scores exactly
    val sel = graft.ops.CurationOps.dsirSelect(
        all.repartition(4), col("lang") === "en", topK = 1000000)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    got.foreach { case (did, sc) => assert(sel(did) === sc, s"doc $did") }
    // the gate actually gates: some raw docs score below 0, some above
    assert(got.nonEmpty && got.size < sel.size)
    assert(sel.values.exists(_ < 0L))
  }

  test("streaming KMV monitor: drained last-row-per-group == batch sketch bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // deterministic multi-source value stream with cross-batch duplicates:
    // the union-with-state path must dedup against hashes seen in EARLIER
    // batches, not just within one
    val rows = (1L to 3000L).map(v => (s"src${v % 3}", v * 37 % 1000))
    val mem = MemoryStream[(String, Long)]
    val q = StreamPipeline.kmvMonitor(mem.toDF().toDF("source", "v"), k = 64)
      .writeStream.format("memory").queryName("kmv_mon").outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    rows.grouped(700).foreach { batch => mem.addData(batch); q.processAllAvailable() }
    q.stop()
    // final row per source, order-independently: the sketch's kth value is
    // monotone NONINCREASING as hashes accumulate, so the last emission is
    // the min-kth row
    val got = spark.table("kmv_mon").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getInt(2), r.getLong(3))))
      .groupBy(_._1).map { case (src, rs) => src -> rs.map(_._2).minBy(_._1) }
    val batch = graft.ops.Sketches.kmvDistinct(
        rows.toDF("source", "v"), "source", "v", k = 64)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet === batch.keySet)
    got.foreach { case (src, (_, _, est)) =>
      assert(est === batch(src)._1, s"stream est diverged from batch for $src")
    }
    // the monitor ran statefully: one emission per source per non-empty batch
    assert(spark.table("kmv_mon").count() > 3)
  }

  test("watermarked aggregate DROPS rows arriving later than the watermark") {
    // explicit late-data semantics, not just drained-input parity: batch 1
    // advances the watermark past window A; a window-A row in batch 2 is
    // late and must not resurrect or amend the emitted aggregate
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = mem.toDF().toDF("event_ts", "cents")
      .withWatermark("event_ts", "10 seconds")
      .groupBy(window(col("event_ts"), "60 seconds"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .select(col("window.start").as("w"), col("n"), col("s"))
    val q = agg.writeStream.format("memory").queryName("latedrop")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    try {
      def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
      mem.addData((ts(10), 1L), (ts(20), 2L))   // window A [0,60)
      q.processAllAvailable()
      mem.addData((ts(200), 4L))                // watermark → 190 s, closes A
      q.processAllAvailable()
      mem.addData((ts(30), 8L))                 // LATE row for closed window A
      q.processAllAvailable()
      mem.addData((ts(400), 16L))               // advances watermark, closes B
      q.processAllAvailable()
      val out = spark.table("latedrop")
        .collect().map(r => r.getTimestamp(0).getTime -> (r.getLong(1), r.getLong(2))).toMap
      // tumbling windows align to the epoch: 1.7e9 s ≡ 20 (mod 60), so
      // window A starts at base−20 s and the 200 s row's at base+160 s
      // window A emitted with ONLY the pre-watermark rows — the late 8L is gone
      assert(out(1700000000000L - 20000L) === ((2L, 3L)))
      assert(out(1700000000000L + 160000L) === ((1L, 4L)))
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch join on drained feeds") {
    // two live feeds derived from the same events table: even event_ids are
    // the left feed (impressions), odd the right (follow-ups); correlate
    // per user within a 10-minute window
    val evDir = tmp("graft-stream-ssj")
    val src = Tables.events(spark, Sf)
    src.write.mode("overwrite").parquet(evDir)
    def feeds(df: org.apache.spark.sql.DataFrame) = (
      df.where(col("event_id") % 2 === 0).select(
        col("user_id").as("l_key"), col("ts").cast("timestamp").as("l_ts"),
        col("event_id").as("l_id")),
      df.where(col("event_id") % 2 === 1).select(
        col("user_id").as("r_key"), col("ts").cast("timestamp").as("r_ts"),
        col("event_id").as("r_id")))
    val streamIn = spark.readStream.schema(src.schema).parquet(evDir)
    val (sl, sr) = feeds(streamIn)
    val q = StreamPipeline.intervalJoin(sl, sr, gapSec = 600)
      .select("l_id", "r_id")
      .writeStream.format("memory").queryName("ssjoin").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("ssjoin")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val (bl, br) = feeds(src)
    val exp = StreamPipeline.intervalJoin(bl, br, gapSec = 600) // batch mode
      .select("l_id", "r_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got.nonEmpty, "interval join produced no matches on the fixture")
    assert(got === exp)
  }

  test("streaming dedup within watermark drops duplicate keys, bounded state") {
    val in = tmp("graft-stream-in5")
    // stage the same rows TWICE — every key arrives duplicated
    stage(in, "line_no >= 0")
    stage(in, "line_no >= 0")
    val parsed = StreamPipeline.transform(
      StreamPipeline.readRaw(spark, in, maxFilesPerTrigger = 16))
    val q = StreamPipeline.dedupWithinWatermark(parsed, Seq("doc_id")).writeStream
      .format("memory").queryName("dedup_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val total = Tables.rawEvents(spark, Sf).count()
    val got = spark.table("dedup_out")
    assert(got.count() === total, "each duplicated key must survive exactly once")
    assert(got.groupBy("doc_id").count().where(col("count") > 1).count() === 0L)
  }
}
