package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.table.SinkTable

/** Correctness checks on the tables the timed operations committed. They
  * run outside the timed region and recompute everything they compare
  * against from the generated input, not from the program.
  */
object Checks {
  import PerfBench.{Opts, Result}

  /** The north rule's token ids, derived here from the raw text: words split
    * on single spaces, id = ((ascii(first)*59 + ascii(last))*31 + len) % 32768.
    */
  private def inputSide(spark: SparkSession, o: Opts) = {
    val docs = spark.read.parquet(s"${o.input}/input/documents.parquet")
    val words = filter(split(col("text"), " "), w => length(w) > 0)
    val tokens = transform(words, w =>
      (((ascii(w) * 59 + ascii(w.substr(length(w), lit(1)))) * 31 + length(w)) % 32768).cast("int"))
    docs.select(
      concat(lit("doc-"), lpad(col("doc_id").cast("string"), 12, "0")).as("doc_id"),
      tokens.as("tokens"))
  }

  private def digest(df: org.apache.spark.sql.DataFrame) = df.agg(
    count(lit(1)),
    countDistinct(col("doc_id")),
    // order-free: a sum of per-row hashes, exact in decimal
    sum(xxhash64(col("doc_id"), col("tokens")).cast("decimal(38,0)")),
    sum(size(col("tokens")).cast("long")),
    sum(aggregate(col("tokens"), lit(0L), (acc, x) => acc + x.cast("long")))).head()

  def table(spark: SparkSession, o: Opts, r: Result, base: String, landed: Long): Unit = {
    val t = new SinkTable(base)
    val sink = digest(t.read(spark))
    val input = digest(inputSide(spark, o))
    val manifestRows = t.manifests.map(_.rows).sum
    r.check("committed_rows", sink.getLong(0) == landed && manifestRows == landed,
      s"committed=${sink.getLong(0)} manifests=$manifestRows landed=$landed")
    r.check("no_duplicate_doc_id", sink.getLong(1) == sink.getLong(0),
      s"distinct=${sink.getLong(1)} rows=${sink.getLong(0)}")
    r.check("token_checksum", sink.getDecimal(2) == input.getDecimal(2) && input.getLong(0) == landed,
      s"sinks=${sink.getDecimal(2)} input=${input.getDecimal(2)}")
    r.check("token_totals", sink.getLong(3) == o.tokens && sink.getLong(4) == o.tokenSum,
      s"sinks=(${sink.getLong(3)}, ${sink.getLong(4)}) generator=(${o.tokens}, ${o.tokenSum})")
  }

  /** The incrementally committed table equals one `Pipeline.run` over the
    * same final input, both ways, on (sink, doc_id, tokens, ts_ns).
    */
  def oneShot(spark: SparkSession, o: Opts, r: Result, in: String, base: String): Unit = {
    val one = Paths.get(o.work, "oneshot").toString
    graft.plans.Pipeline.run(spark, in, one, 1L).collect()
    val cols = Seq("sink", "doc_id", "tokens", "ts_ns").map(col)
    val a = new SinkTable(base).read(spark).select(cols: _*)
    val b = new SinkTable(one).read(spark).select(cols: _*)
    val onlyA = a.exceptAll(b).count()
    val onlyB = b.exceptAll(a).count()
    r.check("resume_equals_one_shot", onlyA == 0 && onlyB == 0,
      s"incremental-only=$onlyA one-shot-only=$onlyB")
  }
}
