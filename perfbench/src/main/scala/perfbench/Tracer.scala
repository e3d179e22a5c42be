package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did inside one span, from its public listener events and
  * `CodegenMetrics`.
  */
final case class Counters(
    jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    taskMs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0, spillBytes: Long = 0,
    planMs: Long = 0, codegenCompiles: Long = 0, codegenMs: Long = 0,
    // max/median task run time of the span's busiest shuffle-reading stage
    // (of its busiest stage when none reads a shuffle); 1.0 for one task
    taskSkew: Double = 1.0) {

  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskMs - o.taskMs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
    spillBytes - o.spillBytes, planMs - o.planMs, codegenCompiles - o.codegenCompiles,
    codegenMs - o.codegenMs, taskSkew)

  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, taskMs + o.taskMs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
    spillBytes + o.spillBytes, planMs + o.planMs, codegenCompiles + o.codegenCompiles,
    codegenMs + o.codegenMs, math.max(taskSkew, o.taskSkew))
}

final case class Span(name: String, startNs: Long, wallS: Double, c: Counters)

object Tracer {
  /** Spans of every closed tracer, in order, for the run's result file. */
  val finished = mutable.ArrayBuffer.empty[Span]
}

/** Spans around calls into the program's layers. Each span tags the jobs it
  * submits through a local property; listener events are drained at the end
  * of the span, so counters never leak into the next one. Spans are kept in
  * memory and written out by the caller when the run ends.
  */
final class Tracer(spark: SparkSession) {
  private val SpanKey = "perfbench.span"
  private final class StageAcc(val span: String) {
    var tasks = 0; var taskMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    val taskTimes = mutable.ArrayBuffer.empty[Long]
  }
  private val jobsBySpan = mutable.HashMap.empty[String, Int]
  private val stages = mutable.HashMap.empty[Int, StageAcc]
  private val planMsBySpan = mutable.HashMap.empty[String, Long]
  @volatile private var current: String = null
  val spans = mutable.ArrayBuffer.empty[Span]

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      Option(js.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { s =>
        jobsBySpan(s) = jobsBySpan.getOrElse(s, 0) + 1
        js.stageIds.foreach(id => stages.getOrElseUpdate(id, new StageAcc(s)))
      }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      for (acc <- stages.get(te.stageId); m <- Option(te.taskMetrics)) {
        acc.tasks += 1
        acc.taskMs += m.executorRunTime
        acc.gcMs += m.jvmGCTime
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        acc.taskTimes += m.executorRunTime
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Option(current).foreach { s =>
      val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      Tracer.this.synchronized { planMsBySpan(s) = planMsBySpan.getOrElse(s, 0L) + ms }
    }
  }
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    Tracer.finished ++= spans
  }

  private def codegen(): (Long, Map[Long, Int]) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.groupBy(identity).map { case (k, v) => k -> v.length })
  }

  /** Run `body` as span `name`; returns its value and records the span. */
  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    PerfbenchBridge.drain(sc)
    val (cg0, res0) = codegen()
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    current = name
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      PerfbenchBridge.drain(sc)
      current = null
      sc.setLocalProperty(SpanKey, prev)
      val (cg1, res1) = codegen()
      // compile times (ms) new in the reservoir: the multiset difference of
      // the histogram's samples; exact while a span compiles fewer classes
      // than the reservoir holds
      val newMs = res1.map { case (ms, n) => ms * math.max(0, n - res0.getOrElse(ms, 0)) }.sum
      spans += Span(name, t0, wall, collect(name).copy(codegenCompiles = cg1 - cg0, codegenMs = newMs))
    }
  }

  private def collect(name: String): Counters = synchronized {
    val mine = stages.filter(_._2.span == name).values.toSeq
    stages.filterInPlace((_, a) => a.span != name)
    val jobs = jobsBySpan.remove(name).getOrElse(0)
    val planMs = planMsBySpan.remove(name).getOrElse(0L)
    val busiest = {
      val readers = mine.filter(_.shuffleRead > 0)
      (if (readers.nonEmpty) readers else mine).sortBy(-_.taskMs).headOption
    }
    val skew = busiest.map { a =>
      val t = a.taskTimes.sorted
      if (t.size < 2) 1.0 else t.last.toDouble / math.max(1L, t(t.size / 2))
    }.getOrElse(1.0)
    Counters(jobs, mine.size, mine.map(_.tasks).sum, mine.map(_.taskMs).sum, mine.map(_.gcMs).sum,
      mine.map(_.shuffleWrite).sum, mine.map(_.shuffleRead).sum, mine.map(_.spill).sum,
      planMs, 0, 0, skew)
  }
}
