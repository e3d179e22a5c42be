package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic routing, mirroring the reference's classify_kind →
  * per-kind forwarder dispatch
  * (/root/reference/src/bin/reproduce/main.rs:525-543, 1049-1097).
  *
  * Routing is a pure expression over (kind, parse_ok): the sink column.
  * Rows that fail parse route to a quarantine sink rather than being lost
  * (reference drops-and-counts — SURVEY.md §2.6; we keep the rows for
  * auditability, counts still match because sink counts only include ok
  * rows). The write is [[graft.table.SinkTable.commit]]: one job per
  * commit for every sink, each write task's rows clustered by sink.
  */
object Route {

  val Quarantine = "quarantine"

  /** sink = format family of the source, or quarantine on parse failure. */
  def sinkCol(kind: Column, parseOk: Column): Column =
    when(!parseOk, lit(Quarantine)).otherwise(kind)

  def routed(df: DataFrame): DataFrame =
    df.withColumn("sink", sinkCol(col("kind"), col("parse_ok")))
}
