package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.operators.{Dedup, Enrich, Parse, Route}
import graft.plans.Pipeline
import graft.sources.Tables
import graft.table.SinkTable

/** The traced run: attributes wall time to the program's layers.
  *
  * Pipeline layers are timed by prefix: each prefix of `Pipeline.transformed`
  * (sources, +parse, +dedup, +enrich, +route) is forced through a no-op sink
  * and a layer's self time is its prefix minus the previous one. The commit's
  * self time is `Pipeline.run` minus the route prefix; the report collect and
  * the `SinkTable` metadata calls are timed directly. So the layer self times
  * plus `pipeline.unattributed_s` add up to `pipeline.wall_s`, the traced
  * commit. Spark counters come from the [[Tracer]] spans around each call.
  */
object Layers {
  import PerfBench._

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The prefixes of `Pipeline.transformed`, one layer added at a time. */
  private def layerPrefixes(spark: SparkSession, in: String): Seq[(String, () => DataFrame)] = {
    val sources = () => Tables.rawEvents(spark, in)
    val parse = () => Parse.parsed(sources())
    val dedup = () => Dedup.timestampDedup(parse(), col("ts_raw_ns"), Seq(col("source")), col("line_no"))
    val enrich = () => Enrich.withDim(dedup(), Tables.sourceDim(spark, in), "source")
    val route = () => Route.routed(enrich())
    Seq("sources" -> sources, "parse" -> parse, "dedup" -> dedup, "enrich" -> enrich, "route" -> route)
  }

  private def units(name: String): String = name match {
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_ms") || n == "manifest.ms" => "ms"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith(".bytes") => "bytes"
    case n if n.endsWith("ratio") || n.endsWith("skew") => "ratio"
    case _ => "count"
  }

  private def sparkCounters(c: Counters): Map[String, Double] = Map(
    "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
    "spark.tasks" -> c.tasks.toDouble, "spark.task_s" -> c.taskMs / 1e3,
    "spark.gc_s" -> c.gcMs / 1e3, "spark.plan_ms" -> c.planMs.toDouble,
    "spark.codegen_compiles" -> c.codegenCompiles.toDouble, "spark.codegen_ms" -> c.codegenMs.toDouble,
    "spark.shuffle_mb" -> c.shuffleWriteBytes / 1e6, "spark.spill_mb" -> c.spillBytes / 1e6,
    "spark.task_skew" -> c.taskSkew)

  /** One traced commit of `in` into `table`; returns its layer sample, the
    * commit's latency (run + report) and a report error, if any.
    */
  def decompose(spark: SparkSession, tr: Tracer, in: String, table: String, commit: Long,
                landed: Long): (Map[String, Double], Double, Option[String]) = {
    val pre = layerPrefixes(spark, in).map { case (name, df) =>
      tr.span(name)(noop(df()))
      name -> tr.spans.last
    }.toMap
    val t0 = System.nanoTime()
    val reportDf = tr.span("run")(Pipeline.run(spark, in, table, commit))
    val rows = tr.span("report")(reportDf.collect())
    val sinkTable = tr.span("manifest") {
      val t = new SinkTable(table)
      t.manifests
      t.committedMaxLineNo
      t
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val Seq(run, report, manifest) = tr.spans.takeRight(3).toSeq

    def total(c: String) = rows.map(_.getAs[Long](c)).sum.toDouble
    val commitDir = Paths.get(table, "data", f"commit=$commit%012d")
    val committedRows = sinkTable.manifests.find(_.commitId == commit).map(_.rows).getOrElse(0L)
    def w(n: String) = pre(n).wallS
    def c(n: String) = pre(n).c
    val sample = Map[String, Double](
      "sources.self_s" -> w("sources"),
      "sources.task_s" -> c("sources").taskMs / 1e3,
      "parse.self_s" -> (w("parse") - w("sources")),
      "parse.ok_ratio" -> total("success_cnt") / math.max(1.0, total("records")),
      "dedup.self_s" -> (w("dedup") - w("parse")),
      "dedup.shuffle_mb" -> (c("dedup") - c("parse")).shuffleWriteBytes / 1e6,
      "dedup.spill_mb" -> (c("dedup") - c("parse")).spillBytes / 1e6,
      "dedup.task_skew" -> c("dedup").taskSkew,
      "enrich.self_s" -> (w("enrich") - w("dedup")),
      "enrich.jobs" -> (c("enrich").jobs - c("dedup").jobs).toDouble,
      "route.self_s" -> (w("route") - w("enrich")),
      "commit.self_s" -> (run.wallS - w("route")),
      "commit.jobs" -> (run.c.jobs - c("route").jobs).toDouble,
      "commit.shuffle_mb" -> (run.c - c("route")).shuffleWriteBytes / 1e6,
      "commit.files" -> treeFiles(commitDir, ".parquet").toDouble,
      "commit.bytes" -> treeBytes(commitDir).toDouble,
      "manifest.ms" -> manifest.wallS * 1e3,
      "table.read_files" -> sinkTable.read(spark).inputFiles.length.toDouble,
      "report.self_s" -> report.wallS,
      "report.files_scanned" -> reportDf.inputFiles.length.toDouble,
      "resume.recompute_ratio" -> landed.toDouble / math.max(1L, committedRows),
      "pipeline.wall_s" -> wall,
      "pipeline.unattributed_s" -> (wall - run.wallS - report.wallS - manifest.wallS)
    ) ++ sparkCounters(run.c + report.c + manifest.c)
    (sample, run.wallS + report.wallS, reportError(rows, landed))
  }

  /** A traced commit recorded as one of the run's operations. */
  def tracedCommit(spark: SparkSession, tr: Tracer, r: Result, in: String, table: String,
                   commit: Long, landed: Long): Unit = {
    r.startOp()
    val (sample, latency, err) = decompose(spark, tr, in, table, commit, landed)
    r.op("commit", latency, err.isEmpty, err.getOrElse(""))
    samples += sample
  }

  private val samples = mutable.ArrayBuffer.empty[Map[String, Double]]

  /** Traced vs untraced pipeline commits of the same input, `reps` each,
    * after one discarded commit so neither side pays the first run's codegen.
    */
  def overhead(spark: SparkSession, o: Opts, r: Result, in: String, rows: Long, reps: Int): Unit = {
    def table(tag: String, i: Int) = Paths.get(o.work, s"overhead-$tag-$i").toString
    commitOp(spark, in, table("warm", 0), 1L)
    val untraced = (0 until reps).map(i => commitOp(spark, in, table("u", i), 1L)._1)
    val tr = new Tracer(spark)
    val traced = (0 until reps).map { i =>
      val df = tr.span("run")(Pipeline.run(spark, in, table("t", i), 1L))
      tr.span("report")(df.collect())
      tr.spans.takeRight(2).map(_.wallS).sum
    }
    tr.close()
    r.info("seq_per_s_untraced") = rows / median(untraced)
    r.info("seq_per_s_traced") = rows / median(traced)
    r.metric("tracing.overhead_ratio", median(traced) / median(untraced), "ratio")
  }

  def ingest(spark: SparkSession, o: Opts, r: Result): Unit = {
    val in = s"${o.input}/input"
    overhead(spark, o, r, in, o.rows, reps = 2)
    val tr = new Tracer(spark)
    var measured = 0.0
    var k = 0
    var last: Path = null
    while (k < 2 || measured < o.seconds) {
      val table = Paths.get(o.work, s"traced-$k")
      val t0 = System.nanoTime()
      tracedCommit(spark, tr, r, in, table.toString, 1L, o.rows)
      measured += (System.nanoTime() - t0) / 1e9
      if (last != null) deleteTree(last)
      last = table
      k += 1
    }
    tr.close()
    Checks.table(spark, o, r, last.toString, o.rows)
    r.metric("stored_bytes_per_row", treeBytes(last.resolve("data")).toDouble / o.rows, "bytes/row")
    finish(r, "pipeline")
  }

  /** query_suite traced: the cold pass with one span per query, then one
    * decomposed pipeline commit over the suite's own documents table.
    */
  def queries(spark: SparkSession, o: Opts, r: Result): Unit = {
    val docs = spark.read.parquet(s"${o.input}/documents.parquet").count()
    val registry = SparkEntry.queries
    val tr = new Tracer(spark)
    val perQuery = o.queries.map { name =>
      r.startOp()
      val ok = try {
        tr.span(s"q:$name") {
          registry(name)(spark, o.input).write.mode("overwrite").parquet(queryOut(o, 1, name))
        }
        true
      } catch {
        case e: Exception =>
          r.op(name, Double.NaN, ok = false, e.toString.take(500), Map("pass" -> 1)); false
      }
      val s = tr.spans.last
      if (ok) r.op(name, s.wallS, ok = true, extra = Map("pass" -> 1))
      name -> s
    }
    tr.close()
    writeOracles(o)
    r.info("query_profile") = perQuery.map { case (n, s) =>
      n -> (sparkCounters(s.c) + ("wall_s" -> s.wallS))
    }.toMap
    val pass = perQuery.map(_._2.c).reduce(_ + _)
    val queryLayer = sparkCounters(pass) +
      ("spark.task_skew" -> median(perQuery.map(_._2.c.taskSkew)))
    perQuery.groupBy(_._1.take(1)).foreach { case (f, qs) =>
      r.metric(s"query.family.${f}_s", qs.map(_._2.wallS).sum, "s")
    }

    overhead(spark, o, r, o.input, docs, reps = 1)
    val tr2 = new Tracer(spark)
    // a layer probe over the suite's documents, not one of the suite's ops
    val (sample, _, err) = decompose(spark, tr2, o.input, Paths.get(o.work, "pipeline").toString,
      1L, docs)
    tr2.close()
    r.check("pipeline_probe_report", err.isEmpty, err.getOrElse("ok"))
    samples += sample ++ queryLayer
    finish(r, "query")
  }

  /** Medians over the traced samples, under the generic names and under the
    * workload's own prefix for the Spark counters (pipeline.* or query.*).
    */
  def finish(r: Result, scope: String): Unit = {
    val keys = samples.flatMap(_.keys).distinct
    for (k <- keys) {
      val v = median(samples.flatMap(_.get(k)).toSeq)
      r.metric(k, v, units(k))
      if (k.startsWith("spark.")) r.metric(scope + k.stripPrefix("spark"), v, units(k))
    }
    r.info("trace_samples") = samples.toSeq
    val t0 = Tracer.finished.headOption.map(_.startNs).getOrElse(0L)
    r.info("spans") = Tracer.finished.toSeq.map { s =>
      Map("name" -> s.name, "start_s" -> (s.startNs - t0) / 1e9, "wall_s" -> s.wallS) ++
        sparkCounters(s.c)
    }
  }
}
