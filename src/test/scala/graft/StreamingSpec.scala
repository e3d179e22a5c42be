package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.Pipeline
import graft.sources.Tables
import graft.streaming.StreamPipeline
import graft.table.{SinkTable, Writer}

/** Streaming pipeline: file-source polling analog, exactly-once fan-out via
  * per-batch manifest commits through the batch pipeline's commit step, and
  * checkpoint resume across restarts — mirroring the reference's tail-and-
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

  /** Every column a committed row carries that the pipeline derives. */
  private val ResultCols =
    Seq("sink", "doc_id", "tokens", "ts_ns", "vendor", "log_type", "version", "raw_log").map(col)

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val (x, y) = (a.select(ResultCols: _*), b.select(ResultCols: _*))
    assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty)
  }

  /** Each manifest's recorded columns as (name, type): what `read` checks. */
  private def recorded(t: SinkTable): Seq[Seq[(String, org.apache.spark.sql.types.DataType)]] =
    t.manifests.map(_.schema.fields.toSeq.map(f => (f.name, f.dataType)))

  test("streamed table equals one-shot Pipeline.run, row for row") {
    val in = tmp("graft-stream-in"); val out = tmp("graft-stream-out")
    val cp = tmp("graft-stream-cp"); val one = tmp("graft-stream-one")
    stage(in, "line_no >= 0")

    StreamPipeline.run(spark, in, out, cp).awaitTermination()
    Pipeline.run(spark, Sf, one, 1L)

    val (streamed, batch) = (new SinkTable(out), new SinkTable(one))
    assert(streamed.read(spark).count() === 500L)
    assertSameRows(streamed.read(spark), batch.read(spark))
    assert(streamed.read(spark).where(col("vendor").isNull).isEmpty, "every row enriched")
    // every streamed manifest records the one-shot manifest's columns
    assert(recorded(streamed).nonEmpty)
    recorded(streamed).foreach(s => assert(s === recorded(batch).head))
  }

  /** PipelineSpec's two-lap input: the second lap repeats the first's docs
    * 7000 ids on, so its timestamps recur across the slices.
    */
  private val Slices = Seq((0L, 170L, 0L), (170L, 340L, 0L), (340L, 500L, 0L),
    (0L, 250L, 7000L), (250L, 500L, 7000L))

  /** Appends doc slice [lo, hi) shifted by `shift` to `docs`' copy of
    * sf0.001 `documents`, and stages the slice's raw events in `in` as one
    * file.
    */
  private def grow(docs: String, in: String, slice: (Long, Long, Long)): Unit = {
    val (lo, hi, shift) = slice
    Tables.documents(spark, Sf).where(col("doc_id") >= lo && col("doc_id") < hi)
      .withColumn("doc_id", col("doc_id") + shift)
      .coalesce(1).write.mode("append").parquet(s"$docs/documents.parquet")
    Tables.rawEvents(spark, docs).where(col("line_no") >= lo + shift && col("line_no") < hi + shift)
      .coalesce(1).write.mode("append").parquet(in)
  }

  test("straddle drill: one micro-batch per slice equals one shot on the grown input") {
    val docs = tmp("graft-stream-docs"); val in = tmp("graft-stream-in")
    val out = tmp("graft-stream-out"); val cp = tmp("graft-stream-cp")
    val one = tmp("graft-stream-one")
    Slices.foreach { s =>
      grow(docs, in, s)
      StreamPipeline.run(spark, in, out, cp).awaitTermination()
    }
    Pipeline.run(spark, docs, one, 1L)
    val t = new SinkTable(out)
    assert(t.manifests.map(_.commitId) === Slices.indices.map(_.toLong))
    assert(t.read(spark).count() === 1000L)
    assertSameRows(t.read(spark), new SinkTable(one).read(spark))
    // the second lap does collide with the first
    assert(graft.operators.Parse.parsed(Tables.rawEvents(spark, docs))
      .groupBy("source", "ts_raw_ns").count().where(col("count") > 1).count() > 100)
  }

  test("a table written by stream and by Pipeline.run reads as one shot") {
    val docs = tmp("graft-stream-docs"); val in = tmp("graft-stream-in")
    val out = tmp("graft-stream-out"); val cp = tmp("graft-stream-cp")
    val one = tmp("graft-stream-one")
    Slices.take(3).foreach { s =>
      grow(docs, in, s)
      StreamPipeline.run(spark, in, out, cp).awaitTermination()
    }
    Slices.drop(3).foreach(grow(docs, in, _))
    val streamed = new SinkTable(out).manifests.map(_.commitId)
    assert(streamed === Seq(0L, 1L, 2L))
    Pipeline.run(spark, docs, out, streamed.last + 1)
    Pipeline.run(spark, docs, one, 1L)
    val t = new SinkTable(out)
    assert(t.manifests.map(_.commitId) === Seq(0L, 1L, 2L, 3L))
    assert(t.read(spark).count() === 1000L)
    assertSameRows(t.read(spark), new SinkTable(one).read(spark))
  }

  test("a micro-batch whose id a batch commit took fails loudly, naming the manifest") {
    val docs = tmp("graft-stream-docs"); val in = tmp("graft-stream-in")
    val out = tmp("graft-stream-out"); val cp = tmp("graft-stream-cp")
    Slices.take(3).foreach { s =>
      grow(docs, in, s)
      StreamPipeline.run(spark, in, out, cp).awaitTermination()
    }
    Pipeline.run(spark, docs, out, 3L) // an empty delta, committed as id 3
    grow(docs, in, Slices(3)) // the stream's next batch is 3
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      StreamPipeline.run(spark, in, out, cp).awaitTermination())
    val manifest3 = java.nio.file.Paths.get(out, "_manifests", "000000000003.json").toString
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(causes.exists(m => m != null && m.contains(manifest3) && m.contains("batch run")), causes)
    val t = new SinkTable(out)
    assert(t.manifests.map(m => (m.commitId, m.writer)) ===
      Seq(0L, 1L, 2L).map(_ -> Writer.Stream) :+ (3L -> Writer.Batch))
    assert(t.read(spark).count() === 500L)
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
}
