package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{Dedup, Enrich, Parse, Report, Route}
import graft.table.SinkTable

/** The end-to-end north-rule pipeline:
  * read → tokenize → parse (Catalyst grok) → ts-dedup window → enrich
  * (source attributes, projected) → route → sinks (+ manifest commit) → per-sink report
  * — the Spark-native re-expression of the reference's
  * run_pipeline_with_sender loop (reference src/controller.rs:61-145).
  *
  * Single logical plan until the write: Catalyst fuses parse + dedup-window
  * + enrich into few stages; the only row shuffle is the window partition by
  * (source, ts), on a high-cardinality composite key, so no hot partitions;
  * AQE skew-join covers residual skew. Enrichment attaches the source
  * dimension's columns as expressions of `source` (`Enrich.withSourceAttrs`):
  * no join, no dimension to build, no broadcast.
  *
  * [[run]] and [[graft.streaming.StreamPipeline.run]] (one micro-batch at a
  * time) commit through one step, [[commit]].
  * [[run]] resumes: it reads, parses, enriches, routes and writes only the
  * input rows past the committed `line_no` (the reference tails from its
  * checkpoint the same way — src/checkpoint.rs:44-116, zeek.rs:92-94), and
  * its report merges the manifests (no scan, no job). A delta commit runs
  *   - one scan of the delta, whose `line_no` predicate reaches the parquet
  *     scan;
  *   - one scan of the committed table's `(source, line_no, ts_raw_ns)`
  *     with the schema the manifests recorded, rows with a null ts dropped
  *     at the scan; it continues the dedup window's equal-ts groups;
  *   - the window shuffle over the delta ∪ those keys. Its reduce side
  *     enriches, routes, sorts each partition by sink and writes; the
  *     manifest's stats are observed on that write.
  * The committed keys are the one part that is not O(delta): three narrow
  * columns of every committed row with a ts are scanned and shuffled on
  * each commit (ROADMAP item 1 lists ways to cut them to the keys a delta
  * can meet).
  */
object Pipeline {

  /** The transform-only portion (no writes) — reused by queries and tests. */
  def transformed(spark: SparkSession, dir: String): DataFrame =
    stages(Tables.rawEvents(spark, dir), None)

  /** parse → ts-dedup window → enrich → route: the one stage chain of
    * [[transformed]] and [[run]]. With `carried` committed dedup keys the
    * window continues their equal-ts groups, and only `raw`'s rows come out.
    */
  private def stages(raw: DataFrame, carried: Option[DataFrame]): DataFrame = {
    val parsed = Parse.parsed(raw)
    val (ts, part, lineNo) = (col("ts_raw_ns"), Seq(col("source")), col("line_no"))
    val deduped = carried.fold(Dedup.timestampDedup(parsed, ts, part, lineNo))(
      Dedup.timestampDedupCarried(parsed, _, ts, part, lineNo))
    Route.routed(Enrich.withSourceAttrs(deduped))
  }

  /** The committed columns a resumed commit's dedup window needs. */
  private val DedupKeys = Seq("source", "line_no", "ts_raw_ns")

  /** Commit the input rows past the resume point as `commitId` (never a
    * committed one). Returns the report over every committed row. Resume
    * point, carried keys and report come from one manifest listing plus this
    * commit's manifest. Its rows equal one full [[transformed]] run whenever
    * every input row at or before the resume point is committed.
    */
  def run(spark: SparkSession, dir: String, outBase: String, commitId: Long): DataFrame = {
    val table = new SinkTable(outBase)
    val delta = Tables.rawEvents(spark, dir).where(col("line_no") > table.committedMaxLineNo)
    commit(spark, table, delta, commitId)
  }

  /** The one commit step of [[run]] and of
    * [[graft.streaming.StreamPipeline.run]]'s micro-batches: run [[stages]]
    * over `raw` (`Tables.rawEvents` rows not yet committed), continuing the
    * dedup window from `table`'s committed keys, and commit the sink columns
    * as `commitId`. Returns the report over every committed row.
    */
  def commit(spark: SparkSession, table: SinkTable, raw: DataFrame, commitId: Long): DataFrame = {
    val routed = stages(raw, table.read(spark, DedupKeys))
    // quarantined rows keep the WHOLE line as bytes — the reference's raw-log
    // fallback record (Log{kind, log bytes} — src/collector/log.rs:129-149);
    // parsed sinks carry null here (columnar: costs nothing when absent)
    val slim = routed.select(
      col("doc_id"), col("tokens"), col("n_tok"), col("source"), col("line_no"),
      col("ts_raw_ns"), col("ts_ns"), col("level"), col("src_ip"), col("status_code"),
      col("vendor"), col("log_type"), col("version"), col("bytes"),
      when(col("sink") === Route.Quarantine, encode(col("raw_line"), "UTF-8")).as("raw_log"),
      col("parse_ok"), col("sink"))
    table.commit(slim, commitId)
    Report.fromManifests(spark, table.manifests)
  }
}
