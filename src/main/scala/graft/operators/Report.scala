package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.table.{Manifest, SinkStats}

/** Per-sink transfer report: count + byte statistics, the reference's only
  * aggregation (/root/reference/src/bin/reproduce/report.rs:77-213 — per-run
  * count, sum/min/max/avg record bytes, throughput).
  *
  * groupBy(sink) is a hash aggregate with map-side partial aggregation —
  * at 10^12 rows each of ~32k shuffle partitions only ships one row per
  * sink value, so the shuffle is O(sinks × partitions), not O(rows).
  *
  * The pipeline's own report is [[fromManifests]]: each SinkTable commit
  * observes the same partials on its write ([[partials]]), so the report
  * over all commits is a merge of O(commits × sinks) manifest records.
  */
object Report {

  /** Per-sink records, byte statistics and parse outcomes over the `sink`,
    * `bytes` and `parse_ok` columns.
    */
  def perSink(df: DataFrame): DataFrame = {
    val bytes = col("bytes")
    df.groupBy(col("sink").as("sink"))
      .agg(
        count(lit(1)).as("records"),
        sum(bytes).as("sum_bytes"),
        min(bytes).as("min_bytes"),
        max(bytes).as("max_bytes"),
        // integer avg (floor) keeps the oracle comparison exact — no
        // float-order nondeterminism across engines
        floor(sum(bytes) / count(lit(1))).cast("long").as("avg_bytes_floor"),
        sum(when(col("parse_ok"), 1L).otherwise(0L)).as("success_cnt"),
        sum(when(!col("parse_ok"), 1L).otherwise(0L)).as("failed_cnt")
      )
  }

  /** One aggregate struct per sink, named after it — the mergeable part of
    * [[perSink]] (records, sum/min/max bytes, ok, failed), for
    * `Dataset.observe`. A sink with no rows gets records 0 and null bytes.
    */
  def partials(sinks: Seq[String]): Seq[Column] = sinks.map { s =>
    val in = col("sink") === s
    val bytes = when(in, col("bytes"))
    struct(
      count(when(in, 1)).as("records"),
      sum(bytes).as("sum_bytes"),
      min(bytes).as("min_bytes"),
      max(bytes).as("max_bytes"),
      count(when(in && col("parse_ok"), 1)).as("success_cnt"),
      count(when(in && !col("parse_ok"), 1)).as("failed_cnt")).as(s)
  }

  /** A sink's observed [[partials]] struct; None when it saw no rows. */
  def stats(sink: String, r: Row): Option[SinkStats] =
    if (r.getLong(0) == 0L) None
    else Some(SinkStats(sink, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)))

  private val Schema = StructType(Seq("sink" -> StringType, "records" -> LongType,
    "sum_bytes" -> LongType, "min_bytes" -> LongType, "max_bytes" -> LongType,
    "avg_bytes_floor" -> LongType, "success_cnt" -> LongType, "failed_cnt" -> LongType)
    .map { case (n, t) => StructField(n, t) })

  /** [[perSink]] of every committed row, merged from the manifests' partials
    * into a local relation: no scan, and collecting it runs no job.
    */
  def fromManifests(spark: SparkSession, manifests: Seq[Manifest]): DataFrame = {
    val rows = manifests.flatMap(_.sinks).groupBy(_.sink).toSeq.sortBy(_._1).map { case (s, ps) =>
      val m = ps.reduce(_ merge _)
      // the same double division and floor as perSink's avg_bytes_floor
      Row(s, m.records, m.sumBytes, m.minBytes, m.maxBytes,
        math.floor(m.sumBytes.toDouble / m.records.toDouble).toLong, m.successCnt, m.failedCnt)
    }
    spark.createDataFrame(rows.asJava, Schema)
  }
}
