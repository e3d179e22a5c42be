package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic raw-event generator for scale benchmarks.
  *
  * Produces the same schema as [[Tables.rawEvents]] — the north-rule input
  * `(doc_id, tokens array<int>, n_tok, source)` plus `raw_line`/`kind`/
  * `line_no` — from `spark.range(n)` with pure Catalyst expressions: no
  * files, no driver-side data, fully parallel generation. Seeded only by the
  * row id, so any two runs (and any two cluster sizes) generate identical
  * rows — the property the N-vs-4N scaling comparison depends on.
  *
  * The line formats mirror the reference's ingest families (oplog / nginx /
  * fgt key=value / zeek TSV — SURVEY.md §2.2) via the same
  * [[Tables.rawLine]] expression the correctness queries use.
  */
object Gen {

  /** Distinct `source` values the generator spreads events over. */
  private val Sources = 500

  /** n synthetic raw events across `numPartitions` tasks. */
  def rawEvents(spark: SparkSession, n: Long, numPartitions: Int): DataFrame = {
    val did = col("id")
    val source = concat(lit("src"), (did % Sources).cast("string"))
    // tokens: 20..49 ints, each a mixed function of (doc, position)
    val nTok = (lit(20) + (did % 30)).cast("int")
    val toks = transform(sequence(lit(1), nTok),
      i => ((did * 2654435761L + i.cast("long") * 40503L) % 32768L).cast("int"))
    val nChars = (lit(40) + (did % 4000)).cast("int")
    spark.range(0, n, 1, numPartitions).select(
      concat(lit("doc-"), lpad(did.cast("string"), 12, "0")).as("doc_id"),
      toks.as("tokens"),
      nTok.as("n_tok"),
      source.as("source"),
      did.as("line_no"),
      Tables.rawLine(did, source, nChars).as("raw_line"),
      Tables.kindName(source).as("kind"))
  }

  /** Matching source dimension (same derivation as Tables.sourceDim). */
  def sourceDim(spark: SparkSession): DataFrame = {
    val source = concat(lit("src"), col("id").cast("string"))
    spark.range(0, Sources, 1, 1).select(source.as("source") +: Tables.sourceAttrs(source): _*)
  }
}
