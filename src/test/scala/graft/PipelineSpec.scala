package graft

import java.nio.file.Files
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Report}
import graft.plans.Pipeline
import graft.sources.Tables
import graft.table.{SinkStats, SinkTable, Writer}

/** End-to-end invariants from BASELINE.md:
  *   - routed-row sets equal the oracle by token-array equality per doc_id
  *     (exceptAll both directions empty),
  *   - per-sink (records, bytes) match independent recomputation,
  *   - resume from a rolled-back manifest reproduces identical sinks,
  *   - commits over a growing input equal one run over the final input,
  *   - the manifests' report conserves the committed rows.
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
    // each rollback drops the last manifest; the manifests are the only
    // committed state, with no pointer and no temp file beside them
    assert(manifestFiles(out) === Seq(1L, 2L).map(manifestName))
    t.rollbackLast()
    assert(t.manifests.map(_.commitId) === Seq(1L))
    assert(manifestFiles(out) === Seq(manifestName(1L)))
    t.rollbackLast()
    assert(t.manifests.isEmpty && manifestFiles(out).isEmpty)
    assert(t.read(spark).count() === 0L) // uncommitted data invisible
    Pipeline.run(spark, Sf, out, 3L)
    val after = new SinkTable(out).read(spark).orderBy("doc_id")
      .select("sink", "doc_id", "n_tok", "ts_ns").collect().toSeq
    assert(after === before)
    assert(manifestFiles(out) === Seq(manifestName(3L)))
  }

  private def manifestName(id: Long) = f"$id%012d.json"

  /** Every file name under `out`'s `_manifests`, sorted. */
  private def manifestFiles(out: String): Seq[String] =
    Files.list(java.nio.file.Paths.get(out, "_manifests")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).sorted

  test("a committed id is never overwritten: a second run with id 1 fails, naming manifest 1") {
    val out = freshDir()
    Pipeline.run(spark, Sf, out, 1L)
    val data = java.nio.file.Paths.get(out, "data", "commit=000000000001")
    def files = Files.list(data).toArray.toSeq.map(_.toString).sorted
    val written = files
    val e = intercept[IllegalArgumentException](Pipeline.run(spark, Sf, out, 1L))
    assert(e.getMessage.contains(java.nio.file.Paths.get(out, "_manifests", manifestName(1L)).toString))
    assert(files === written, "no data is written for a refused commit")
    val t = new SinkTable(out)
    assert(t.read(spark).count() === 500L)
    assert(t.manifests.map(m => (m.commitId, m.rows)) === Seq((1L, 500L)))
  }

  test("a table answers from the listing made at open; its own commit and rollback update it") {
    val out = freshDir()
    val a = new SinkTable(out)
    a.commit(rows(0L, 10L), 1L, Writer.Batch)
    assert(a.manifests.map(_.commitId) === Seq(1L))
    val b = new SinkTable(out)
    a.commit(rows(10L, 30L), 2L, Writer.Batch)
    // b was opened before commit 2: one snapshot, the one it listed
    assert(b.manifests.map(_.commitId) === Seq(1L))
    assert(b.committedMaxLineNo === 9L && b.read(spark).count() === 10L)
    val reopened = new SinkTable(out)
    assert(reopened.manifests.map(_.commitId) === Seq(1L, 2L))
    assert(reopened.committedMaxLineNo === 29L && reopened.read(spark).count() === 30L)
    // commit and rollback decide from the disk, not from b's stale listing
    val e = intercept[IllegalArgumentException](b.commit(rows(30L, 40L), 2L, Writer.Batch))
    assert(e.getMessage.contains(manifestName(2L)))
    // a new id through b's stale listing would carry commit 1's run ends and resume point
    val stale = intercept[IllegalArgumentException](b.commit(rows(30L, 40L), 3L, Writer.Batch))
    assert(stale.getMessage.contains(manifestName(2L)) && stale.getMessage.contains("reopen the table"),
      stale.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(out, "data", "commit=000000000003")), "no data is written")
    b.rollbackLast() // drops commit 2, the last one on disk
    assert(b.manifests.map(_.commitId) === Seq(1L))
    assert(new SinkTable(out).manifests.map(_.commitId) === Seq(1L))
    b.commit(rows(10L, 20L), 3L, Writer.Batch)
    assert(b.manifests.map(_.commitId) === Seq(1L, 3L))
    assert(b.committedMaxLineNo === 19L && b.read(spark).count() === 20L)
    assert(a.manifests.map(_.commitId) === Seq(1L, 2L), "a still answers from its own listing")
    assert(manifestFiles(out) === Seq(1L, 3L).map(manifestName))
  }

  test("commit ids rise: committing id 5 after id 10 fails, naming manifest 10") {
    val out = freshDir()
    val t = new SinkTable(out)
    t.commit(rows(0L, 10L), 10L, Writer.Batch)
    val e = intercept[IllegalArgumentException](t.commit(rows(10L, 20L), 5L, Writer.Batch))
    assert(e.getMessage.contains(java.nio.file.Paths.get(out, "_manifests", manifestName(10L)).toString) &&
      e.getMessage.contains("commit 5 is not past the last commit"), e.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(out, "data", "commit=000000000005")), "no data is written")
    assert(manifestFiles(out) === Seq(manifestName(10L)))
    t.commit(rows(10L, 20L), 11L, Writer.Batch)
    assert(new SinkTable(out).manifests.map(_.commitId) === Seq(10L, 11L))
  }

  test("commits that recorded different schemas fail read, naming the manifest") {
    val out = freshDir()
    val t = new SinkTable(out)
    t.commit(rows(0L, 10L), 1L, Writer.Batch)
    t.commit(rows(10L, 20L).withColumn("v", col("line_no")), 2L, Writer.Batch) // v: string → bigint
    val manifest2 = java.nio.file.Paths.get(out, "_manifests", manifestName(2L)).toString
    val e1 = intercept[IllegalArgumentException](t.read(spark))
    assert(e1.getMessage.contains(manifest2) && e1.getMessage.contains("`v`"))
    // read(spark) reads every recorded column: one a commit lacks fails too
    val extra = freshDir()
    val u = new SinkTable(extra)
    u.commit(rows(0L, 10L), 1L, Writer.Batch)
    u.commit(rows(10L, 20L).withColumn("w", lit(1)), 2L, Writer.Batch)
    val e2 = intercept[IllegalArgumentException](u.read(spark))
    val manifest1 = java.nio.file.Paths.get(extra, "_manifests", manifestName(1L)).toString
    assert(e2.getMessage.contains(manifest1) && e2.getMessage.contains("`w`"))
  }

  /** Commit-shaped rows [lo, hi): every row routed to `sink`, no run end. */
  private def rows(lo: Long, hi: Long, sink: String = "oplog") = {
    import spark.implicits._
    (lo until hi).map(i => (i, s"r$i", sink, 10L + i % 3, true))
      .toDF("line_no", "v", "sink", "bytes", "parse_ok")
      .withColumn(Dedup.RunEndCol, lit(null).cast("struct<source:string,ts:bigint,run_len:bigint>"))
  }

  test("a moved table reads its own data, and each commit's files cluster rows by sink") {
    val src = java.nio.file.Paths.get(freshDir(), "t")
    val t = new SinkTable(src.toString)
    t.commit(rows(0L, 30L, "oplog").union(rows(30L, 60L, "zeek")).repartition(1)
      .sortWithinPartitions(col("line_no") % 2), 1L, Writer.Batch)
    val dst = java.nio.file.Paths.get(freshDir(), "moved")
    Files.move(src, dst)
    val moved = new SinkTable(dst.toString)
    assert(moved.read(spark).count() === 60L)
    // one file; its sink column changes value once
    val sinks = moved.read(spark).select("sink").collect().map(_.getString(0)).toSeq
    assert(sinks.sliding(2).count(p => p.head != p.last) === 1)
  }

  /** Appends doc_id slice [lo, hi) of sf0.001 `documents` to `dir`'s copy,
    * the rows `where` holds for, shifted by `shift`; returns the rows added.
    */
  private def grow(dir: String, lo: Long, hi: Long, shift: Long = 0L,
                   where: Column = lit(true)): Long = {
    val part = Tables.documents(spark, Sf).where(col("doc_id") >= lo && col("doc_id") < hi && where)
      .withColumn("doc_id", col("doc_id") + shift)
    part.coalesce(1).write.mode("append").parquet(s"$dir/documents.parquet")
    part.count()
  }

  private val ResultCols = Seq("sink", "doc_id", "tokens", "ts_ns").map(col)

  /** `out`'s committed rows equal one `Pipeline.run` of `in` on a fresh
    * table, both ways, on `cols`.
    */
  private def assertOneShot(in: String, out: String, cols: Seq[Column] = ResultCols): Unit = {
    val one = freshDir()
    Pipeline.run(spark, in, one, 1L)
    val a = new SinkTable(out).read(spark).select(cols: _*)
    val b = new SinkTable(one).read(spark).select(cols: _*)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("resume: slice-by-slice commits equal one Pipeline.run on the grown input") {
    val in = freshDir(); val out = freshDir()
    // sf0.001's timestamps are distinct; the second lap repeats the first's
    // docs 7000 ids on (line ts is a function of doc_id mod 1000 and mod 7),
    // so its timestamps recur across the resume points, though never on
    // adjacent lines of a source (the straddle drill below makes them adjacent)
    val slices = Seq((0L, 170L, 0L), (170L, 340L, 0L), (340L, 500L, 0L),
      (0L, 250L, 7000L), (250L, 500L, 7000L))
    slices.zipWithIndex.foreach { case ((lo, hi, shift), i) =>
      grow(in, lo, hi, shift)
      Pipeline.run(spark, in, out, i + 1L)
    }
    assert(new SinkTable(out).read(spark).count() === 1000L)
    assertOneShot(in, out)
    // the second lap does collide with the first
    assert(graft.operators.Parse.parsed(Tables.rawEvents(spark, in))
      .groupBy("source", "ts_raw_ns").count().where(col("count") > 1).count() > 100)
  }

  test("crash after the data write: an unpublished commit is invisible, and its re-run equals one shot") {
    val in = freshDir(); val out = freshDir()
    grow(in, 0L, 250L)
    Pipeline.run(spark, in, out, 1L)
    // commit 2 crashed between its two phases: data landed (a copy of
    // commit 1's files), no manifest
    val data = java.nio.file.Paths.get(out, "data")
    org.apache.commons.io.FileUtils.copyDirectory(
      data.resolve("commit=000000000001").toFile, data.resolve("commit=000000000002").toFile)
    val t = new SinkTable(out)
    assert(t.manifests.map(_.commitId) === Seq(1L))
    assert(t.read(spark).count() === 250L)
    assert(t.committedMaxLineNo === t.manifests.head.maxLineNo)
    val report = Report.fromManifests(spark, t.manifests)
    val fromData = Report.perSink(t.read(spark))
    assert(report.exceptAll(fromData).isEmpty && fromData.exceptAll(report).isEmpty)
    assert(report.collect().map(_.getAs[Long]("records")).sum === 250L)
    grow(in, 250L, 500L)
    Pipeline.run(spark, in, out, 2L) // the re-run overwrites the orphaned data
    assert(new SinkTable(out).read(spark).count() === 500L)
    assertOneShot(in, out)
  }

  /** Runs `body`; returns its result and the Spark jobs it started. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerCount.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.ListenerCount.drain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("conservation: manifest report == perSink(read) over commits + rollback; no job after a write") {
    val in = freshDir(); val out = freshDir()
    grow(in, 0L, 200L); Pipeline.run(spark, in, out, 1L)
    grow(in, 200L, 350L); Pipeline.run(spark, in, out, 2L)
    grow(in, 350L, 500L); Pipeline.run(spark, in, out, 3L)
    new SinkTable(out).rollbackLast() // commit 3's rows are past the resume point again
    val report = Pipeline.run(spark, in, out, 4L)
    val t = new SinkTable(out)
    val (got, collectJobs) = jobsDuring(report.collect())
    assert(collectJobs === 0, "the report is a local relation")
    val fromData = Report.perSink(t.read(spark))
    assert(report.exceptAll(fromData).isEmpty && fromData.exceptAll(report).isEmpty)
    def total(c: String) = got.map(_.getAs[Long](c)).sum
    assert(total("records") === 500L)
    assert(t.manifests.map(_.rows).sum === 500L)
    assert(t.manifests.map(_.commitId) === Seq(1L, 2L, 4L))
    assert(total("success_cnt") + total("failed_cnt") === total("records"))
    // a shuffle-free frame's commit is one job: the write, stats observed on it
    val (m, commitJobs) = jobsDuring(t.commit(rows(1000L, 1010L), 5L, Writer.Batch))
    assert(commitJobs === 1)
    assert(m.rows === 10L && m.maxLineNo === 1009L)
    assert(m.sinks === Seq(SinkStats("oplog", 10L, 10L * 11L, 10L, 12L, 10L, 0L)))
  }

  test("fail loudly: v1 and v2 manifests, a v3 manifest without sources, a sink outside the declared list") {
    def refused(manifest: String, why: String): Unit = {
      val base = freshDir()
      val path = java.nio.file.Paths.get(base, "_manifests", "000000000001.json")
      Files.createDirectories(path.getParent)
      Files.writeString(path, manifest)
      val e = intercept[IllegalArgumentException](new SinkTable(base)) // the open lists it
      assert(e.getMessage.contains(path.toString) && e.getMessage.contains(why), e.getMessage)
    }
    refused("""{"commit_id":1,"rows":0,"max_line_no":-1,"partitions":[]}""", "v1")
    val out = freshDir()
    val t = new SinkTable(out)
    t.commit(rows(0L, 10L), 1L, Writer.Batch)
    val v3 = Files.readString(java.nio.file.Paths.get(out, "_manifests", manifestName(1L)))
    assert(v3.contains("\"version\":3") && v3.contains("\"sources\":[]") && v3.contains("\"writer\":\"batch\""))
    // a v2 manifest is the v3 one without writer and sources
    val v2 = v3.replace("\"version\":3", "\"version\":2").replace(",\"writer\":\"batch\"", "")
      .replace(",\"sources\":[]", "")
    refused(v2, "v2")
    refused(v3.replace(",\"sources\":[]", ""), "lacks `sources`")
    refused(v3.replace("\"writer\":\"batch\"", "\"writer\":\"elsewhere\""), "writer `elsewhere`")

    val e3 = intercept[IllegalArgumentException](t.commit(rows(10L, 20L, sink = "elsewhere"), 2L, Writer.Batch))
    assert(e3.getMessage.contains("10 of 10 rows routed to no sink"))
    assert(t.manifests.map(_.commitId) === Seq(1L))
    // t's listing only shows its own commits: the disk shows that the
    // refused commit published no manifest
    assert(manifestFiles(out) === Seq(manifestName(1L)))
    assert(new SinkTable(out).manifests.map(_.commitId) === Seq(1L))
  }

  test("a delta bringing new sources commits the one-shot rows, every row enriched") {
    val in = freshDir(); val out = freshDir()
    val early = Tables.sourceNum(col("source")) < 10
    grow(in, 0L, 500L, where = early); Pipeline.run(spark, in, out, 1L)
    grow(in, 250L, 500L, 1000L); Pipeline.run(spark, in, out, 2L)
    val t = new SinkTable(out)
    val sources = t.read(spark).groupBy("source").agg(min("line_no").as("first"))
    assert(sources.where(col("first") < 1000L).count() === 10L)
    assert(sources.where(col("first") >= 1000L).count() === 10L, "the delta brings 10 new sources")
    assertOneShot(in, out, Seq("doc_id", "sink", "ts_ns", "vendor", "log_type", "version").map(col))
    assert(t.read(spark).where(col("vendor").isNull || col("log_type").isNull || col("version").isNull).isEmpty)
  }

  test("enrichment runs no job: no join in the plan; a resumed commit is the window shuffle and the write") {
    val plan = Pipeline.transformedExact(spark, Sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("BroadcastExchange"), plan)
    val in = freshDir(); val out = freshDir()
    grow(in, 0L, 250L); Pipeline.run(spark, in, out, 1L)
    grow(in, 250L, 500L)
    // the resumed commit reads no committed data file: with commit 1's
    // data moved away, any scan of it would fail
    val data = java.nio.file.Paths.get(out, "data", "commit=000000000001")
    val away = java.nio.file.Paths.get(freshDir(), "commit1")
    Files.move(data, away)
    val (_, commitJobs) = jobsDuring(Pipeline.run(spark, in, out, 2L))
    Files.move(away, data)
    assert(commitJobs === 2)
    assert(new SinkTable(out).read(spark).count() === 500L)
    assertOneShot(in, out)
  }

  /** Appends to `dir`'s `documents` three copies of each sf0.001 document,
    * adjacent in its source's line order and all with its ts: copy j of the
    * source's r-th document (0-based) is line `doc_id + 7000·(3r + j)`.
    * Line ts is a function of the line mod 7000, and band `[7000·k,
    * 7000·k + 500)` holds copy `k mod 3` of each source's document `k / 3`,
    * so a resume point at `7000·k` cuts an equal-ts run of every source
    * with more than `k / 3` documents. Writes the lines in `[lo, hi)`.
    */
  private def growAdjacent(dir: String, lo: Long, hi: Long): Unit = {
    val rank = row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")) - 1
    Tables.documents(spark, Sf).withColumn("r", rank)
      .withColumn("j", explode(array(lit(0L), lit(1L), lit(2L))))
      .withColumn("doc_id", col("doc_id") + lit(7000L) * (col("j") + lit(3L) * col("r")))
      .drop("r", "j").where(col("doc_id") >= lo && col("doc_id") < hi)
      .coalesce(1).write.mode("append").parquet(s"$dir/documents.parquet")
  }

  test("straddle drill: equal-ts runs adjacent across each resume point continue from the manifest") {
    val in = freshDir(); val out = freshDir()
    val cuts = Seq(0L, 7000L, 5L * 7000L, 10L * 7000L + 250L, 17L * 7000L, Long.MaxValue)
    cuts.zip(cuts.tail).zipWithIndex.foreach { case ((lo, hi), i) =>
      growAdjacent(in, lo, hi)
      Pipeline.run(spark, in, out, i + 1L)
    }
    val t = new SinkTable(out)
    assert(t.manifests.size === 5 && t.read(spark).count() === 1500L)
    assertOneShot(in, out)
    // the drill has teeth: after each resume point but the fourth's lower
    // half, each source's first line continues the run its previous line ended
    val afterCut = Seq(1L, 5L, 10L, 17L).map(k =>
      col("line_no").between(k * 7000L, k * 7000L + 499L)).reduce(_ || _)
    assert(t.read(spark).where(afterCut && col("ts_ns") > col("ts_raw_ns")).count() > 50L)
    // the last manifest holds each source's run end: the ts and offset + 1
    // of its last line that was sequenced
    val ends = t.read(spark).where(col("ts_ns").isNotNull).groupBy("source")
      .agg(max_by(struct(col("ts_raw_ns"), col("ts_ns")), col("line_no")).as("last"))
      .collect().map { r =>
        val last = r.getStruct(1)
        Option(r.getString(0)) -> Dedup.RunEnd(last.getLong(0), last.getLong(1) - last.getLong(0) + 1L)
      }.toMap
    assert(ends.size > 10 && t.manifests.last.runEnds === ends)
    assert(t.manifests.last.runEnds.values.exists(_.runLen > 1L))
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
