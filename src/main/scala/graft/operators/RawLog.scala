package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The raw-log fallback path (reference src/collector/log.rs:129-194):
  * whole line as bytes into a `(kind, log binary, ts_ns)` record, empty
  * lines skipped (`BinaryLines` strips the terminator and the collector
  * drops len==0 lines). The reference stamps wall-clock nanos; here the
  * timestamp is a caller-provided deterministic column so runs are
  * reproducible (SURVEY §7.4.3 determinism rule).
  */
object RawLog {

  /** Wrap a `value: string` line column as the binary Log record. */
  def wrap(lines: DataFrame, kind: String, tsNs: Column): DataFrame =
    lines.where(length(col("value")) > 0)
      .select(lit(kind).as("kind"), encode(col("value"), "UTF-8").as("log"), tsNs.as("ts_ns"))

  /** Read a real line-oriented log file (the §2.1 raw-log scan). */
  def readLines(spark: SparkSession, path: String): DataFrame =
    spark.read.format("text").load(path)

  /** `target/stage/<name>_<sfDir with every non-alphanumeric as _>`: one
    * staging path per fixture and scale factor.
    */
  def stagePath(name: String, sfDir: String): String =
    s"target/stage/${name}_${sfDir.replaceAll("[^0-9a-zA-Z]", "_")}"

  /** Stage a deterministic fixture file (one write per distinct path+mode,
    * overwritten each run) and return its path — fixture setup for the
    * real-file-reader queries; the measured operator is the read back.
    */
  def stage(df: DataFrame, name: String, sfDir: String): String = {
    val path = stagePath(name, sfDir)
    df.coalesce(1).write.mode("overwrite").text(path)
    path
  }

  /** Stage a single file whose FIRST line is a header (the sysmon CSV
    * reader config — `option("header", true)` skips it per file). Written
    * via Spark — no driver-side collect, so staging is O(1) driver memory
    * at any scale factor: the header is unioned with sort key 0 and the
    * single output partition is sorted so it lands first; data-line order
    * after the header is irrelevant to the set-compared oracle.
    */
  def stageWithHeader(df: DataFrame, header: String, name: String, sfDir: String): String = {
    val path = stagePath(s"${name}_hdr", sfDir)
    val hdr = df.sparkSession.range(1)
      .select(lit(0).as("k"), lit(header).as("value"))
    df.select(lit(1).as("k"), col("value")).unionByName(hdr)
      .coalesce(1).sortWithinPartitions(col("k"))
      .select("value")
      .write.mode("overwrite").text(path)
    path
  }
}
