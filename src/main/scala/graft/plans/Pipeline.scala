package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{Dedup, Enrich, Parse, Report, Route}
import graft.table.SinkTable

/** The end-to-end north-rule pipeline:
  * read → tokenize → parse (Catalyst grok) → ts-dedup window → enrich
  * (broadcast join) → route → fan-out sinks (+ manifest commit) →
  * per-sink report aggregates — the Spark-native re-expression of the
  * reference's run_pipeline_with_sender loop
  * (/root/reference/src/controller.rs:61-145).
  *
  * Single logical plan until the write: Catalyst fuses parse + dedup-window
  * + join into few stages; the only shuffles are (a) the window partition by
  * (source, ts) and (b) the fan-out repartition by (sink, bucket). The
  * enrich join is broadcast — no shuffle. At 10^12 rows both shuffles hash
  * on high-cardinality composite keys, so no hot partitions; AQE skew-join
  * covers residual skew.
  */
object Pipeline {

  /** The transform-only portion (no writes) — reused by queries and tests. */
  def transformed(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.rawEvents(spark, dir)
    val parsed = Parse.parsed(raw)
    val deduped = Dedup.timestampDedup(parsed, col("ts_raw_ns"), Seq(col("source")), col("line_no"))
    val dim = Tables.sourceDim(spark, dir)
    val enriched = Enrich.withDim(deduped, dim, "source")
    Route.routed(enriched)
  }

  /** Full run with sink writes + manifest commit. Returns the report. */
  def run(spark: SparkSession, dir: String, outBase: String, commitId: Long = 1L): DataFrame = {
    val routed = transformed(spark, dir)
    val table = new SinkTable(outBase)
    // quarantined rows keep the WHOLE line as bytes — the reference's raw-log
    // fallback record (Log{kind, log bytes} — src/collector/log.rs:129-149);
    // parsed sinks carry null here (columnar: costs nothing when absent)
    val slim = routed.select(
      col("doc_id"), col("tokens"), col("n_tok"), col("source"), col("line_no"),
      col("ts_ns"), col("level"), col("src_ip"), col("status_code"),
      col("vendor"), col("log_type"), col("version"), col("bytes"),
      when(col("sink") === Route.Quarantine, encode(col("raw_line"), "UTF-8")).as("raw_log"),
      col("parse_ok"), col("sink"))
    table.appendResumable(
      slim.repartition(col("sink"), pmod(xxhash64(col("doc_id")), lit(8))), commitId)

    val committed = table.read(spark)
    Report.perSink(committed)
  }
}
