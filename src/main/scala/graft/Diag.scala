package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import scala.collection.mutable

/** Diagnostics entry point (not a bench artifact, not part of the driver
  * contract). One session, four commands:
  *
  *   - `ab`: same-JVM interleaved A/B over driver queries — the repo's
  *     protocol for separating plan problems from shared-box host weather (a
  *     real plan cost reproduces every interleaved round; weather shows up as
  *     cross-round variance on unchanged code). One p02 warm-up, then three
  *     rounds over the named queries.
  *   - `profile`: per query, the construct/plan/exec split, the planning
  *     phases, codegen compiles, and per-job wall / stage / task-time totals
  *     from a listener — so seconds can be attributed to scheduling,
  *     codegen, shuffles or compute without a UI; then the optimizer's
  *     rule-time dump.
  *   - `explain`: the formatted physical plan of the named queries (every
  *     registered query when none is named) — predicate pushdown
  *     (PushedFilters), column pruning (ReadSchema), broadcast joins,
  *     WholeStageCodegen spans.
  *   - `schemas`: each testdata table's inferred parquet schema as DDL (the
  *     source of the pinned schemas in [[graft.sources.Tables]]).
  *
  * Usage: runMain graft.Diag <ab|profile|explain|schemas> <sfDir> [query ...]
  */
object Diag {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Diag <ab|profile|explain|schemas> <sfDir> [query ...]")
    val spark = Sessions.local(Runtime.getRuntime.availableProcessors, "graft-diag")
    try run(spark, args(0), args(1), args.toSeq.drop(2))
    finally spark.stop()
  }

  def run(spark: SparkSession, cmd: String, sfDir: String, names: Seq[String]): Unit = {
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    cmd match {
      case "ab" => ab(spark, sfDir, queries, names)
      case "profile" => profile(spark, sfDir, queries, names)
      case "explain" =>
        (if (names.nonEmpty) names else queries.keys.toSeq.sorted).foreach { n =>
          println(s"\n===================== $n =====================")
          queries(n)(spark, sfDir).explain("formatted")
        }
      case "schemas" =>
        graft.sources.Tables.schemas.keys.toSeq.sorted.foreach { t =>
          println(s"[schema] $t :: ${spark.read.parquet(s"$sfDir/$t.parquet").schema.toDDL}")
        }
      case other => throw new IllegalArgumentException(
        s"unknown command '$other' (ab | profile | explain | schemas)")
    }
  }

  private type Queries = Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame]

  // codegen, parquet footers and the JIT warm on one query outside the
  // measured set, as Bench does
  private def warm(spark: SparkSession, sfDir: String, queries: Queries): Unit =
    queries("p02_tokens_full")(spark, sfDir).count()

  private def ab(spark: SparkSession, sfDir: String, queries: Queries, names: Seq[String]): Unit = {
    require(names.nonEmpty, "ab needs at least one query name")
    warm(spark, sfDir, queries)
    for (round <- 1 to 3) {
      val line = names.map { n =>
        val t0 = System.nanoTime()
        queries(n)(spark, sfDir).count()
        f"$n=${(System.nanoTime() - t0) / 1e9}%.2f"
      }.mkString(" ")
      println(s"[ab] round=$round $line")
    }
  }

  private final case class JobRec(desc: String, start: Long, var end: Long = 0L,
                                  var stages: Int = 0, var taskTimeMs: Long = 0L,
                                  var tasks: Int = 0)

  private def profile(spark: SparkSession, sfDir: String, queries: Queries, names: Seq[String]): Unit = {
    require(names.nonEmpty, "profile needs at least one query name")
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val d = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.synchronized {
          jobs(js.jobId) = JobRec(d, js.time)
          js.stageIds.foreach(sid => stageToJob(sid) = js.jobId)
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(je.jobId).foreach(_.end = je.time)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          for (jid <- stageToJob.get(sc.stageInfo.stageId); j <- jobs.get(jid)) {
            j.stages += 1
            j.tasks += sc.stageInfo.numTasks
            j.taskTimeMs += sc.stageInfo.taskMetrics.executorRunTime
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      warm(spark, sfDir, queries)
      RuleExecutor.resetMetrics() // the dump below covers the profiled queries only
      for (name <- names) {
        jobs.synchronized { jobs.clear(); stageToJob.clear() }
        val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val df = queries(name)(spark, sfDir)
        val tCons = (System.nanoTime() - t0) / 1e9
        val agg = df.groupBy().count() // what Dataset.count() runs internally
        agg.queryExecution.executedPlan // force analysis+optimization+planning
        val tPlan = (System.nanoTime() - t0) / 1e9 - tCons
        agg.collect()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"[profile] $name construct=$tCons%.3f plan=$tPlan%.3f exec=${wall - tCons - tPlan}%.3f")
        Thread.sleep(200) // let the listener bus drain
        val ph = agg.queryExecution.tracker.phases
          .map { case (k, v) => s"$k=${v.endTimeMs - v.startTimeMs}ms" }.mkString(" ")
        val cgN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
        println(f"[profile] $name wall=$wall%.3f s  phases: $ph  codegenCompiles=$cgN")
        var sumJob = 0L
        jobs.synchronized {
          jobs.foreach { case (id, j) =>
            val w = j.end - j.start
            sumJob += math.max(w, 0L)
            println(f"[profile]   job $id%3d wall=${w}%5d ms stages=${j.stages}%2d tasks=${j.tasks}%4d taskTime=${j.taskTimeMs}%6d ms  ${j.desc.take(80)}")
          }
          println(f"[profile]   njobs=${jobs.size} sumJobWall=${sumJob} ms (wall-sumJob = driver/planning gap)")
        }
      }
      println(RuleExecutor.dumpTimeSpent())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
