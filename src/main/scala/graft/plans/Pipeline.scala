package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{Dedup, Enrich, Parse, Report, Route}
import graft.table.{SinkTable, Writer}

/** The end-to-end north-rule pipeline:
  * read → tokenize → parse (Catalyst grok) → ts-dedup window → enrich
  * (source attributes, projected) → route → sinks (+ manifest commit) → per-sink report
  * — the Spark-native re-expression of the reference's
  * run_pipeline_with_sender loop (reference src/controller.rs:61-145).
  *
  * Single logical plan until the write: Catalyst fuses parse + dedup-window
  * + enrich into few stages; the only row shuffle is the dedup window's.
  * Enrichment attaches the source dimension's columns as expressions of
  * `source` (`Enrich.withSourceAttrs`): no join, no dimension to build, no
  * broadcast.
  *
  * What it commits sequences timestamps by the reference's rule
  * (`Dedup.timestampDedupExact`, windowed by `source` in `line_no` order).
  * [[transformedExact]], the one transform it exports, is the committed
  * form over a whole input; the windowed `(source, ts)` form that the p14
  * oracle pins is that query's own plan in `QueriesPipeline`.
  *
  * [[run]] and [[graft.streaming.StreamPipeline.run]] (one micro-batch at a
  * time) commit through one step, [[commit]].
  * [[run]] resumes: it reads, parses, enriches, routes and writes only the
  * input rows past the committed `line_no` (the reference tails from its
  * checkpoint the same way — src/checkpoint.rs:44-116, zeek.rs:92-94), and
  * its report merges the manifests (no scan, no job). The dedup continues
  * each source's last equal-ts run from the run ends the last manifest
  * recorded, so a commit reads no committed row. A delta commit runs
  *   - one scan of the delta, whose `line_no` predicate reaches the parquet
  *     scan;
  *   - the window shuffle over the delta, by source. Its reduce side
  *     enriches, routes, sorts each partition by sink and writes; the
  *     manifest's stats and run ends are observed on that write.
  * Everything it reads and shuffles is O(delta); the state it carries is
  * O(sources).
  */
object Pipeline {

  private val Ts = col("ts_raw_ns")
  private val Source = col("source")
  private val LineNo = col("line_no")

  /** The transform-only portion with the reference's ts sequencing: the
    * rows one [[run]] on an empty table commits.
    */
  def transformedExact(spark: SparkSession, dir: String): DataFrame =
    stages(Tables.rawEvents(spark, dir), Map.empty)

  /** parse → exact ts dedup continued from `carry` → enrich → route. A line
    * whose ts did not parse (a quarantined line) joins no run.
    */
  private def stages(raw: DataFrame, carry: Dedup.RunEnds): DataFrame =
    Route.routed(Enrich.withSourceAttrs(
      Dedup.timestampDedupExact(Parse.parsed(raw), Ts, Source, LineNo, carry)))

  /** Commit the input rows past the resume point as `commitId` (never a
    * committed one). Returns the report over every committed row. Resume
    * point, run ends and report come from one manifest listing plus this
    * commit's manifest. Its rows equal one [[transformedExact]] run whenever
    * every input row at or before the resume point is committed.
    */
  def run(spark: SparkSession, dir: String, outBase: String, commitId: Long): DataFrame = {
    val table = new SinkTable(outBase)
    val delta = Tables.rawEvents(spark, dir).where(col("line_no") > table.committedMaxLineNo)
    commit(spark, table, delta, commitId, Writer.Batch)
  }

  /** The one commit step of [[run]] and of
    * [[graft.streaming.StreamPipeline.run]]'s micro-batches: run [[stages]]
    * over `raw` (`Tables.rawEvents` rows not yet committed, each source's
    * after its committed ones), continuing each source's run from `table`'s
    * run ends, and commit the sink columns as `commitId`, recorded as
    * written by `writer`. Returns the report over every committed row.
    */
  def commit(spark: SparkSession, table: SinkTable, raw: DataFrame, commitId: Long,
             writer: Writer): DataFrame = {
    val routed = stages(raw, table.runEnds)
    // quarantined rows keep the WHOLE line as bytes — the reference's raw-log
    // fallback record (Log{kind, log bytes} — src/collector/log.rs:129-149);
    // parsed sinks carry null here (columnar: costs nothing when absent)
    val slim = routed.select(
      col("doc_id"), col("tokens"), col("n_tok"), col("source"), col("line_no"),
      col("ts_raw_ns"), col("ts_ns"), col("level"), col("src_ip"), col("status_code"),
      col("vendor"), col("log_type"), col("version"), col("bytes"),
      when(col("sink") === Route.Quarantine, encode(col("raw_line"), "UTF-8")).as("raw_log"),
      col("parse_ok"), col("sink"), col(Dedup.RunEndCol))
    table.commit(slim, commitId, writer)
    Report.fromManifests(spark, table.manifests)
  }
}
