package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.plans.Pipeline
import graft.table.{SinkTable, Writer}

/** Structured Streaming form of the pipeline — the Spark-native
  * re-expression of the reference's polling-tail collect loop
  * (/root/reference/src/collector.rs:25 3-second EOF poll;
  * src/bin/reproduce/main.rs:861-896 10-second directory rescan).
  *
  * The streaming file source subsumes both polls: new files in `inDir` are
  * discovered per trigger, offsets live in the checkpoint dir (the analog of
  * the reference's line-count checkpoint file — src/checkpoint.rs:44-116),
  * and `Trigger.AvailableNow` gives drain-then-stop semantics for tests.
  *
  * Each micro-batch is committed by [[graft.plans.Pipeline.commit]], the
  * batch pipeline's own commit step, with the batch id as the commit id: the
  * same parse → ts-dedup → enrich → route stages, the same sink columns and
  * the same manifest, so one table may hold streamed and batch commits. A
  * replayed batch (post-crash) finds its manifest already published by the
  * stream and skips the write — exactly-once sink contents on top of the
  * source's at-least-once replay, mirroring the reference's "position
  * advances only after the batch is acked" (src/collector/zeek.rs:92-94,155-161).
  * A batch id that a `Pipeline.run` took fails the query, naming the
  * manifest: that batch is no replay, and skipping it would lose its rows.
  * Commit ids rise (`SinkTable.commit`), so a batch id below a
  * `Pipeline.run`'s id fails too, naming the last manifest.
  *
  * The resume state is the source checkpoint plus that replay skip; a
  * micro-batch is not filtered by `line_no`. The ts dedup continues each
  * source's last equal-ts run from the run ends the last manifest recorded,
  * so a streamed table equals one [[graft.plans.Pipeline.run]] over the same
  * lines when, for every source, each micro-batch's lines of it come after
  * its committed ones. A tailing log meets this: its files arrive in line
  * order.
  */
object StreamPipeline {

  /** Schema of the staged raw-event files (Tables.rawEvents shape). */
  val rawSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("tokens", ArrayType(IntegerType)),
    StructField("n_tok", IntegerType),
    StructField("source", StringType),
    StructField("line_no", LongType),
    StructField("raw_line", StringType),
    StructField("kind", StringType)))

  /** Files a micro-batch takes at most. */
  private val MaxFilesPerTrigger = 8

  def readRaw(spark: SparkSession, inDir: String): DataFrame =
    spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger)
      .parquet(inDir)

  /** Drain the files available in `inDir`, committing each micro-batch to
    * the table at `outBase` unless the stream already committed its id.
    */
  def run(spark: SparkSession, inDir: String, outBase: String,
          checkpointDir: String): StreamingQuery = {
    val writeBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      val table = new SinkTable(outBase)
      table.manifests.find(_.commitId == batchId) match {
        case None => Pipeline.commit(batch.sparkSession, table, batch, batchId, Writer.Stream)
        case Some(m) => require(m.writer == Writer.Stream,
          s"${table.manifestPath(batchId)}: commit $batchId was written by a ${m.writer.name} run, " +
            s"so micro-batch $batchId is no replay of it and cannot commit")
      }
      ()
    }
    readRaw(spark, inDir).writeStream
      .queryName("graft-stream")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(writeBatch)
      .start()
  }
}
