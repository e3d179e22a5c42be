package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{Row, SparkSession}

import graft.{Sessions, SparkEntry}
import graft.plans.Pipeline

/** The benchmark's JVM half. `run.py` generates the inputs, starts this main
  * once per run and turns the `--result` file into the printed metrics.
  *
  * It drives the program only through its public entry points
  * (`Pipeline.run` and the report it returns, `SparkEntry.queries`), and, in
  * a traced run, through the public functions of each pipeline layer.
  * Timed operations are appended to `ops` with their latency and whether
  * they succeeded; correctness checks run after the timed region, on the
  * tables the timed operations wrote.
  */
object PerfBench {

  final case class Opts(
      workload: String, input: String, work: String, result: String,
      seconds: Double, trace: Boolean, cores: Int,
      rows: Long, tokens: Long, tokenSum: Long, deltas: Int, deltaRows: Long,
      queries: Seq[String])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def num(k: String) = m.getOrElse(k, "0").toLong
    Opts(m("workload"), m("input"), m("work"), m("result"), m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt, num("rows"), num("tokens"), num("token-sum"),
      num("deltas").toInt, num("delta-rows"),
      m.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil))
  }

  /** Everything a run hands back to run.py. */
  final class Result {
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val metrics = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    val info = mutable.LinkedHashMap.empty[String, Any]

    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private val threads = ManagementFactory.getThreadMXBean
    private val jit = ManagementFactory.getCompilationMXBean
    private var cpu0, jitMs0 = 0L
    private var threadCpu0 = Map.empty[Long, Long]

    /** CPU time of every live Java thread, by thread id (ids are never
      * reused). HotSpot's JIT compiler threads are hidden from this list and
      * its GC threads are not Java threads, so neither is in it.
      */
    private def threadCpu(): Map[Long, Long] =
      threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

    /** Marks the start of a timed operation, for its CPU times. */
    def startOp(): Unit = {
      threadCpu0 = threadCpu()
      jitMs0 = jit.getTotalCompilationTime
      cpu0 = os.getProcessCpuTime
    }

    /** Records a timed operation with three CPU figures since `startOp`:
      * `app_cpu_s`, the Java threads' CPU (driver, task and helper threads;
      * a thread that ended meanwhile is lost); `cpu_s`, the whole process's;
      * and `jit_s`, the JIT compilers' time.
      */
    def op(name: String, latencyS: Double, ok: Boolean, detail: String = "",
           extra: Map[String, Any] = Map.empty): Unit = {
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val jitS = (jit.getTotalCompilationTime - jitMs0) / 1e3
      val app = threadCpu().map { case (id, t) => t - threadCpu0.getOrElse(id, 0L) }.sum / 1e9
      ops += Map("name" -> name, "latency_s" -> latencyS, "ok" -> ok, "detail" -> detail,
        "app_cpu_s" -> app, "cpu_s" -> cpu, "jit_s" -> jitS) ++ extra
    }
    def check(name: String, ok: Boolean, detail: Any): Unit =
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail.toString)
    def metric(name: String, value: Double, unit: String): Unit =
      metrics(name) = Map("value" -> value, "unit" -> unit)
  }

  private val SetupCycles = 3
  private val MinOps = 3
  // query_suite's warm-up: graft.Bench's own (p02) plus queries outside the
  // measured set covering joins, broadcast, grouping sets, set operations and
  // array aggregates, so JVM-wide JIT warm-up is paid in set-up rather than
  // by whichever measured query runs first
  private val QueryWarmup =
    Seq("p02_tokens_full", "q05_broadcast", "q04_grouping_sets", "q07_except", "k04_len_hist")
  // passes over the measured queries; Spark's generated-code cache is
  // emptied before each pass after the first
  val QueryPasses = 2

  def main(args: Array[String]): Unit = {
    val mainEntryMs = System.currentTimeMillis()
    val o = parse(args)
    val r = new Result
    r.info("probe_start_ms") = Probe.ms()
    // warm-up until the first result: for tail_resume that result is the
    // base commit itself, and the last set-up cycle's table is the one the
    // deltas land on
    var warmTable: String = null
    val warm: SparkSession => Unit = o.workload match {
      case "query_suite" => s => QueryWarmup.foreach { q =>
        SparkEntry.queries(q)(s, o.input).write.format("noop").mode("overwrite").save()
      }
      case w => s => {
        val (in, rows) =
          if (w == "tail_resume") (s"${o.input}/input", o.rows - o.deltas * o.deltaRows)
          else (s"${o.input}/warmup", -1L)
        warmTable = Files.createTempDirectory(Paths.get(o.work), "setup").toString
        val rep = Pipeline.run(s, in, warmTable, 1L).collect()
        val err = if (rows < 0) None else reportError(rep, rows)
        require(rep.nonEmpty && err.isEmpty, s"set-up commit: ${err.getOrElse("empty report")}")
      }
    }
    val spark = setUp(o, r, warm, mainEntryMs)
    r.info("session_conf") = spark.conf.getAll.toSeq.sorted.toMap
    r.info("jvm_flags") = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    r.info("cores_available") = Runtime.getRuntime.availableProcessors
    r.info("spark_version") = spark.version
    r.info("java_version") = System.getProperty("java.version")

    try o.workload match {
      case "bulk_ingest" | "skewed_short" =>
        if (o.trace) Layers.ingest(spark, o, r) else ingest(spark, o, r)
      case "tail_resume" => tail(spark, o, r, warmTable)
      case "query_suite" => if (o.trace) Layers.queries(spark, o, r) else queries(spark, o, r)
      case w => sys.error(s"unknown workload $w")
    } finally {
      r.info("probe_end_ms") = Probe.ms()
      r.metric("peak_rss_mb", Probe.peakRssMb(), "MB")
      Files.writeString(Paths.get(o.result), Json.render(Map(
        "ops" -> r.ops, "checks" -> r.checks, "metrics" -> r.metrics, "info" -> r.info)))
      spark.stop()
    }
  }

  /** Session start plus warm-up until the first result, SetupCycles times;
    * the first cycle also pays JVM start and class loading.
    */
  private def setUp(o: Opts, r: Result, warm: SparkSession => Unit, mainEntryMs: Long): SparkSession = {
    val jvmToMain = (mainEntryMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    var spark: SparkSession = null
    val sessionS = mutable.ArrayBuffer.empty[Double]
    val times = (0 until SetupCycles).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Sessions.local(o.cores, "perfbench")
      sessionS += (System.nanoTime() - t0) / 1e9
      warm(spark)
      (System.nanoTime() - t0) / 1e9 + (if (i == 0) jvmToMain else 0.0)
    }
    r.info("jvm_to_main_s") = jvmToMain
    r.info("setup_session_s") = sessionS.toSeq
    r.info("setup_cycles_s") = times
    r.metric("setup_s", median(times), "s")
    spark
  }

  // --- measured operations -------------------------------------------------

  /** One pipeline commit as a user runs it: `Pipeline.run`, then collect the
    * report it returns. Returns (seconds, report rows).
    */
  def commitOp(spark: SparkSession, in: String, table: String, commit: Long): (Double, Array[Row]) = {
    val t0 = System.nanoTime()
    val rep = Pipeline.run(spark, in, table, commit).collect()
    ((System.nanoTime() - t0) / 1e9, rep)
  }

  /** Conservation on one report: its records add up to the rows landed and
    * every record is either parsed or failed.
    */
  def reportError(rep: Array[Row], rows: Long): Option[String] = {
    def total(c: String) = rep.map(_.getAs[Long](c)).sum
    val records = total("records")
    if (records != rows) Some(s"report records $records != rows landed $rows")
    else if (total("success_cnt") + total("failed_cnt") != records)
      Some(s"parse ok ${total("success_cnt")} + failed ${total("failed_cnt")} != $records")
    else None
  }

  private def ingest(spark: SparkSession, o: Opts, r: Result): Unit = {
    val in = s"${o.input}/input"
    var measured = 0.0
    var k = 0
    var last: Path = null
    while (k < MinOps || measured < o.seconds) {
      val table = Paths.get(o.work, s"table-$k")
      r.startOp()
      try {
        val (t, rep) = commitOp(spark, in, table.toString, 1L)
        measured += t
        val err = reportError(rep, o.rows)
        r.op("commit", t, err.isEmpty, err.getOrElse(""))
      } catch {
        case e: Exception =>
          measured += o.seconds / MinOps
          r.op("commit", Double.NaN, ok = false, e.toString)
      }
      if (last != null) deleteTree(last)
      last = table
      k += 1
    }
    Checks.table(spark, o, r, last.toString, o.rows)
    r.metric("stored_bytes_per_row", treeBytes(last.resolve("data")).toDouble / o.rows, "bytes/row")
  }

  /** tail_resume: the base input was committed by set-up; each delta then
    * lands in the input directory and is committed with the next commit id.
    * Latency runs from the moment the delta is visible to the moment its
    * report is collected.
    */
  private def tail(spark: SparkSession, o: Opts, r: Result, table: String): Unit = {
    val in = s"${o.input}/input"
    val base = o.rows - o.deltas * o.deltaRows
    if (o.trace) Layers.overhead(spark, o, r, in, base, reps = 1)
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    for (k <- 1 to o.deltas) {
      land(o, k)
      val landed = base + k * o.deltaRows
      tracer match {
        case None =>
          r.startOp()
          try {
            val (t, rep) = commitOp(spark, in, table, k + 1L)
            val err = reportError(rep, landed)
            r.op("commit", t, err.isEmpty, err.getOrElse(""))
          } catch { case e: Exception => r.op("commit", Double.NaN, ok = false, e.toString) }
        case Some(tr) =>
          Layers.tracedCommit(spark, tr, r, in, table, k + 1L, landed)
      }
    }
    tracer.foreach(_.close())
    Checks.table(spark, o, r, table, o.rows)
    Checks.oneShot(spark, o, r, in, table)
    r.metric("stored_bytes_per_row", treeBytes(Paths.get(table, "data")).toDouble / o.rows, "bytes/row")
    if (o.trace) Layers.finish(r, "pipeline")
  }

  /** Make delta k visible in the input directory in one atomic rename. */
  private def land(o: Opts, k: Int): Unit = {
    val src = Paths.get(o.input, "deltas", f"part-$k%05d.parquet")
    val dir = Paths.get(o.input, "input", "documents.parquet")
    val tmp = dir.resolve(f".landing-$k%05d")
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, dir.resolve(f"part-$k%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Where pass `pass` writes query `name`'s result, for run.py's check. */
  def queryOut(o: Opts, pass: Int, name: String): String =
    Paths.get(o.work, "query_out", s"pass-$pass", name).toString

  /** query_suite: `QueryPasses` passes over the given queries. The first
    * runs them cold in this JVM. Before each later pass Spark's generated-code
    * cache is emptied, so every query is planned and its code generated and
    * compiled again, while the JVM's JIT has seen that code once. Each result
    * is written to parquet so run.py can check it against its DuckDB oracle.
    */
  private def queries(spark: SparkSession, o: Opts, r: Result): Unit = {
    val registry = SparkEntry.queries
    for (pass <- 1 to QueryPasses) {
      if (pass > 1) PerfbenchBridge.clearCodegenCache()
      for (name <- o.queries) {
        r.startOp()
        val t0 = System.nanoTime()
        try {
          registry(name)(spark, o.input).write.mode("overwrite").parquet(queryOut(o, pass, name))
          r.op(name, (System.nanoTime() - t0) / 1e9, ok = true, extra = Map("pass" -> pass))
        } catch {
          case e: Exception =>
            r.op(name, Double.NaN, ok = false, e.toString.take(500), Map("pass" -> pass))
        }
      }
    }
    writeOracles(o)
  }

  def writeOracles(o: Opts): Unit = {
    val oracles = SparkEntry.oracleSql
    Files.writeString(Paths.get(o.work, "oracle_sql.json"),
      Json.render(o.queries.map(n => n -> oracles.getOrElse(n, "")).toMap))
  }

  // --- helpers ---------------------------------------------------------------

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def treeFiles(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.count(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).toLong

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

}

/** Host-drift probe and process memory. */
object Probe {
  @volatile private var sink = 0L

  /** A fixed single-thread integer loop; best of three, in ms. */
  def ms(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 30000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink += x
    (System.nanoTime() - t0) / 1e6
  }.min

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
