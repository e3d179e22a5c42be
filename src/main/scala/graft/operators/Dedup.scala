package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's order-dependent sequencing operators (SURVEY.md §2.3),
  * re-expressed as window functions. These are the only non-trivially
  * parallel pieces of the reference; each needs a total per-file order
  * column (`line_no`), which the source carries.
  *
  * Scale note: windows partition by (file/source, ts) or (source) — never a
  * global sort. At 10^12 rows a single source's window could skew; the
  * pipeline buckets by file so each partition is one file's lines, matching
  * the reference's per-file sequential semantics exactly while files
  * themselves parallelize.
  */
object Dedup {

  /** Timestamp dedup: consecutive records with identical ts become ts+0,
    * ts+1, ts+2…, written to `ts_ns`; offset resets when ts changes
    * (/root/reference/src/collector/common.rs:8-24). Exact iff equal
    * timestamps are adjacent in line order — true for monotonic logs, which
    * is the reference's operating assumption.
    */
  def timestampDedup(df: DataFrame, ts: Column, partCols: Seq[Column], lineNo: Column): DataFrame = {
    val w = Window.partitionBy(partCols :+ ts: _*).orderBy(lineNo)
    df.withColumn("ts_ns", ts + row_number().over(w).cast("long") - lit(1L))
  }

  /** [[timestampDedup]] of `fresh`, continued from `carried`: the window
    * counts the carried rows too, and only the fresh rows come out.
    * `carried` needs only the partition, ts and line-order columns, so a
    * resumed commit continues the committed rows' equal-ts groups from the
    * committed table's narrow keys instead of re-parsing the input behind
    * the resume point. Equals the window over fresh ∪ carried restricted to
    * the fresh rows (DedupSpec's resume law). Carried rows with a null ts
    * are dropped first: they share a window group only with null-ts fresh
    * rows, whose output is null whatever they count.
    */
  def timestampDedupCarried(fresh: DataFrame, carried: DataFrame, ts: Column, partCols: Seq[Column],
                            lineNo: Column): DataFrame = {
    val both = fresh.withColumn("__fresh", lit(true))
      .unionByName(carried.where(ts.isNotNull).withColumn("__fresh", lit(false)),
        allowMissingColumns = true)
    timestampDedup(both, ts, partCols, lineNo).where(col("__fresh")).drop("__fresh")
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
