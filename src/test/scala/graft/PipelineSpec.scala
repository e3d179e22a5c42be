package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.plans.Pipeline
import graft.sources.Tables
import graft.table.SinkTable

/** End-to-end invariants from BASELINE.md:
  *   - routed-row sets equal the oracle by token-array equality per doc_id
  *     (exceptAll both directions empty),
  *   - per-sink (records, bytes) match independent recomputation,
  *   - resume from a rolled-back manifest reproduces identical sinks.
  */
class PipelineSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-pipe").toString

  test("north rule: routed rows equal oracle by (doc_id, tokens) — exceptAll both ways empty") {
    val out = freshDir()
    Pipeline.run(spark, Sf, out, 1L)
    val routed = new SinkTable(out).read(spark)
      .select(col("sink"), col("doc_id"), col("tokens"))
    // independent oracle: re-derive expected routing straight from the source
    val expected = graft.operators.Route.routed(
      graft.operators.Parse.parsed(Tables.rawEvents(spark, Sf)))
      .select(col("sink"), col("doc_id"), col("tokens"))
    assert(routed.exceptAll(expected).isEmpty)
    assert(expected.exceptAll(routed).isEmpty)
  }

  test("per-sink (records, sum_bytes) match independent recomputation") {
    val out = freshDir()
    val report = Pipeline.run(spark, Sf, out, 1L)
      .select("sink", "records", "sum_bytes")
    val expected = graft.operators.Parse.parsed(Tables.rawEvents(spark, Sf))
      .withColumn("sink", graft.operators.Route.sinkCol(col("kind"), col("parse_ok")))
      .groupBy("sink").agg(count(lit(1)).as("records"), sum(col("bytes")).as("sum_bytes"))
    assert(report.exceptAll(expected).isEmpty && expected.exceptAll(report).isEmpty)
  }

  test("resume: rollback last manifest + re-run → identical sink contents, no dupes/gaps") {
    val out = freshDir()
    Pipeline.run(spark, Sf, out, 1L)
    Pipeline.run(spark, Sf, out, 2L) // nothing new past the resume point
    val t = new SinkTable(out)
    val before = t.read(spark).orderBy("doc_id")
      .select("sink", "doc_id", "n_tok", "ts_ns").collect().toSeq
    // each rollback swaps CURRENT back one commit, leaving no temp file
    val manDir = java.nio.file.Paths.get(out, "_manifests")
    def tmpFiles = Files.list(manDir).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).filter(_.startsWith(".tmp-"))
    assert(t.currentCommit === Some(2L))
    t.rollbackLast()
    assert(t.currentCommit === Some(1L))
    assert(tmpFiles.isEmpty)
    t.rollbackLast()
    assert(t.currentCommit === None)
    assert(t.read(spark).count() === 0L) // uncommitted data invisible
    Pipeline.run(spark, Sf, out, 3L)
    val after = t.read(spark).orderBy("doc_id")
      .select("sink", "doc_id", "n_tok", "ts_ns").collect().toSeq
    assert(after === before)
  }

  test("appendResumable skips already-committed line_no range (no dupes on overlap)") {
    import spark.implicits._
    val out = freshDir()
    val t = new SinkTable(out)
    val part1 = (0L until 100L).map(i => (i, s"r$i")).toDF("line_no", "v")
    t.commit(part1, 1L)
    // re-offer an overlapping window [50, 150): only (100,150) may land
    val part2 = (50L until 150L).map(i => (i, s"r$i")).toDF("line_no", "v")
    val m = t.appendResumable(part2, 2L)
    assert(m.rows === 50L)
    assert(t.read(spark).count() === 150L)
    assert(t.read(spark).select("line_no").distinct().count() === 150L)
  }

  test("quarantine sink receives exactly the corrupt rows (did % 97 == 0)") {
    val out = freshDir()
    Pipeline.run(spark, Sf, out, 1L)
    val q = new SinkTable(out).read(spark).where(col("sink") === "quarantine")
    assert(q.count() > 0)
    assert(q.where(col("line_no") % 97 =!= 0).count() === 0L)
    // raw-log fallback: every quarantined row keeps its whole line as bytes
    // (Log{kind, log} — reference log.rs:129-149); parsed sinks carry null
    assert(q.where(col("raw_log").isNull).count() === 0L)
    assert(q.where(decode(col("raw_log"), "UTF-8").startsWith("CORRUPT")).count() === q.count())
    val ok = new SinkTable(out).read(spark).where(col("sink") =!= "quarantine")
    assert(ok.where(col("raw_log").isNotNull).count() === 0L)
  }

  test("entry() returns non-empty flagship result") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
