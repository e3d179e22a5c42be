package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's order-dependent sequencing operators (SURVEY.md §2.3),
  * re-expressed as window functions. These are the only non-trivially
  * parallel pieces of the reference; each needs a total per-file order
  * column (`line_no`), which the source carries.
  *
  * Scale note: windows partition by (file/source, ts) or (source) — never a
  * global sort. A window partitioned by source alone puts one source's lines
  * in one task, so a hot source skews it (ROADMAP item 1 keeps a segmented
  * scan open); files themselves parallelize.
  */
object Dedup {

  /** Timestamp dedup in its windowed form: the lines of a partition that
    * share a ts become ts+0, ts+1, ts+2… in line order, written to `ts_ns`.
    * It counts every line of the `(partCols, ts)` group, so it equals the
    * reference's rule (reference src/collector/common.rs:8-24, where
    * the offset resets as soon as ts changes) only when equal timestamps are
    * adjacent in line order: input ts `[5,7,5,5]` gives `[5,7,6,7]` here and
    * `[5,7,5,6]` there. The p08 and p14 oracles pin this form;
    * [[timestampDedupExact]] is the reference's rule.
    */
  def timestampDedup(df: DataFrame, ts: Column, partCols: Seq[Column], lineNo: Column): DataFrame = {
    val w = Window.partitionBy(partCols :+ ts: _*).orderBy(lineNo)
    df.withColumn("ts_ns", ts + row_number().over(w).cast("long") - lit(1L))
  }

  /** Where one partition's sequencing stands after its last line with a
    * ts: that ts and the length of the equal-ts run the line ends, so the
    * line's `ts_ns` is `ts + runLen - 1`.
    */
  final case class RunEnd(ts: Long, runLen: Long)

  /** Each partition's [[RunEnd]], keyed by its `part` value (None for the
    * null one).
    */
  type RunEnds = Map[Option[String], RunEnd]

  /** The column [[timestampDedupExact]] adds beside `ts_ns`: on each
    * partition's last line with a ts, `struct(source, ts, run_len)`; null on
    * every other line. [[nextRunEnds]] reads `collect_list` of it.
    */
  val RunEndCol = "run_end"

  /** The run ends after a commit: `prev`, updated with the [[RunEndCol]]
    * values the commit's rows carried. A partition with no line with a ts
    * in the commit keeps its previous run end.
    */
  def nextRunEnds(prev: RunEnds, observed: Seq[Row]): RunEnds = {
    val ended = observed.map(r => Option(r.getString(0)) -> RunEnd(r.getLong(1), r.getLong(2)))
    require(ended.map(_._1).distinct.size == ended.size, "a partition ended twice in one commit")
    prev ++ ended
  }

  /** Timestamp dedup by the reference's rule: within a `part` partition in
    * `lineNo` order, a run of equal ts starts wherever ts differs from the
    * previous line's, and `ts_ns` = ts + the count of earlier lines in the
    * run. Lines with a null ts are left out of the runs, as the reference
    * sequences only the records it parsed: their `ts_ns` is null and the
    * lines around them sequence as if they were absent. The first run of a
    * partition continues `carry`'s [[RunEnd]] for it when its ts equals the
    * recorded one, so a resumed commit sequences its delta from the
    * O(partitions) state of the committed rows without reading them: the
    * output equals this operator over committed ∪ delta restricted to the
    * delta whenever each partition's delta lines come after its committed
    * lines (DedupSpec's laws). Also writes [[RunEndCol]].
    *
    * One window `partitionBy(part).orderBy(lineNo)` in two select levels
    * (lag and lead over the lines with a ts, the running count of those
    * lines; then the running max of the run starts): one shuffle, one sort.
    * The carry enters as one map literal, looked up only on first-run rows;
    * with no carry the plan has no state term.
    */
  def timestampDedupExact(df: DataFrame, ts: Column, part: Column, lineNo: Column,
                          carry: RunEnds): DataFrame = {
    val w = Window.partitionBy(part).orderBy(lineNo)
    val upTo = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = df.select(col("*"), lag(ts, 1, null, true).over(w).as("__prev"),
      count(ts).over(upTo).as("__k"), lead(ts, 1, null, true).over(w).as("__next"))
    // a run starts at a partition's first line with a ts and where ts changes;
    // __k numbers the lines with a ts
    val starts = when(ts.isNotNull && coalesce(ts =!= col("__prev"), lit(true)), col("__k"))
    val runs = marked.select(col("*"), max(starts).over(upTo).as("__start"))
    val inRun = col("__k") - col("__start")
    val offset = carried(carry, part).fold(inRun) { end =>
      inRun + when(col("__start") === 1 && ts === end("_1"), end("_2")).otherwise(0L)
    }
    runs.select(df.columns.toSeq.map(c => col(s"`$c`")) ++ Seq(
      (ts + offset).as("ts_ns"),
      when(ts.isNotNull && col("__next").isNull,
        struct(part.as("source"), ts.as("ts"), (offset + 1L).as("run_len"))).as(RunEndCol)): _*)
  }

  /** `carry`'s (ts, run length) struct for each row's `part`, as one map
    * literal plus the null partition's entry; None when `carry` is empty.
    */
  private def carried(carry: RunEnds, part: Column): Option[Column] = {
    val named = carry.collect { case (Some(p), e) => p -> (e.ts, e.runLen) }
    val byName = Option.when(named.nonEmpty)(typedLit(named).getItem(part))
    carry.get(None).map(e => typedLit((e.ts, e.runLen))) match {
      case Some(nullEnd) => Some(when(part.isNull, nullEnd).otherwise(byName.getOrElse(lit(null))))
      case None => byName
    }
  }

  /** Consecutive-duplicate drop: a record equal (on cmpCols) to the
    * immediately preceding record in line order is silently dropped
    * (/root/reference/src/collector/zeek.rs:115,170-172).
    */
  def dropConsecutiveDuplicates(df: DataFrame, partCols: Seq[Column], lineNo: Column,
                                cmpCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partCols: _*).orderBy(lineNo)
    val cur = struct(cmpCols: _*)
    df.withColumn("__prev", lag(cur, 1).over(w))
      .where(col("__prev").isNull || col("__prev") =!= cur)
      .drop("__prev")
  }

  /** Security-log serial: per-line counter cycling 1..999, added to the
    * parsed ts to uniquify same-second syslog
    * (/root/reference/src/collector/security_log.rs:105-109). Pure function
    * of the line number — no window needed.
    */
  def securitySerial(lineNo: Column): Column =
    ((lineNo - lit(1L)) % lit(999L)) + lit(1L)

  /** NetFlow-style intra-group nanos: row_number within (part, second)
    * window, 0-based, written to `nanos`
    * (/root/reference/src/parser/netflow.rs:57-67).
    */
  def intraGroupNanos(df: DataFrame, partCols: Seq[Column], sec: Column, lineNo: Column): DataFrame = {
    val w = Window.partitionBy(partCols :+ sec: _*).orderBy(lineNo)
    df.withColumn("nanos", row_number().over(w).cast("long") - lit(1L))
  }
}
