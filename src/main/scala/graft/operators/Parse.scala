package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.RegexpExtractStruct

/** Catalyst-only parse stage (no UDFs — north rule).
  *
  * The reference parses each log line with a hand-written positional/regex
  * extractor per format (/root/reference/src/parser/zeek.rs:71-79 TSV,
  * security_log/nginx.rs:14 grok, security_log/fgt.rs:17 key=value,
  * operation_log.rs:21-28 level lines). Here each family is a bank of
  * codegen'd regex / `split` expressions producing a common
  * parsed struct; malformed rows get ok=false and are counted, never fatal
  * (reference drops-and-counts — src/collector/zeek.rs:118-139).
  *
  * All expressions have exact DuckDB twins (graft.Oracles) so the driver
  * oracle re-derives identical values.
  */
object Parse {

  val OplogRe = "^(\\d+)\\.(\\d+) (INFO|WARN|ERROR) (.*)$"
  val NginxRe = "^(\\S+) - - \\[(\\d+)\\] \"(\\w+) ([^ \"]+) HTTP/[^\"]*\" (\\d+) (\\d+)$"

  /** sec.frac → ns with the fraction scaled by its digit count — real
    * Zeek/giganto timestamps carry variable-width fractions ('...5' is
    * 500 ms, not 5 µs); a missing fraction contributes 0.
    */
  private def nsFromSecFrac(sec: Column, frac: Column): Column =
    sec.cast("long") * lit(1000000000L) +
      coalesce(frac.cast("long") *
        pow(lit(10.0), lit(9) - length(frac)).cast("long"), lit(0L))

  /** Operation-log family: `<sec>.<micros> LEVEL contents`
    * (reference regex: `(datetime)\s+(INFO|WARN|ERROR)\s(contents)` —
    * operation_log.rs:21-28; level whitelist is part of the regex).
    * One regex pass per line ([[RegexpExtractStruct]]), where a
    * `regexp_extract` per group would match the line 4 times.
    */
  def oplog(line: Column): Column = {
    val m = RegexpExtractStruct.of(line, OplogRe, 4)
    struct(
      nsFromSecFrac(m("g1"), m("g2")).as("ts_ns"),
      m("g3").as("level"),
      m("g4").as("contents"),
      m("matched").as("ok"))
  }

  /** nginx access-log family: grok named-group analog
    * (reference: security_log/nginx.rs:14,19-25). One regex pass per line
    * instead of 6.
    */
  def nginx(line: Column): Column = {
    val m = RegexpExtractStruct.of(line, NginxRe, 6)
    struct(
      (m("g2").cast("long") * lit(1000000000L)).as("ts_ns"),
      m("g1").as("src_ip"),
      m("g3").as("method"),
      m("g4").as("path"),
      m("g5").cast("int").as("status"),
      m("g6").cast("long").as("resp_bytes"),
      m("matched").as("ok"))
  }

  /** Fortinet-style key=value family (reference: security_log/fgt.rs:17).
    * One regexp_extract per key — each codegen'd, regex constant-folded.
    */
  def fgt(line: Column): Column = struct(
    (regexp_extract(line, "date=(\\d+)", 1).cast("long") * lit(1000000000L)).as("ts_ns"),
    regexp_extract(line, "srcip=([0-9.]+)", 1).as("src_ip"),
    regexp_extract(line, "dstip=([0-9.]+)", 1).as("dst_ip"),
    regexp_extract(line, "proto=(\\d+)", 1).cast("int").as("proto"),
    regexp_extract(line, "srcport=(\\d+)", 1).cast("int").as("src_port"),
    regexp_extract(line, "dstport=(\\d+)", 1).cast("int").as("dst_port"),
    regexp_extract(line, "action=(\\w+)", 1).as("action"),
    (regexp_extract(line, "date=(\\d+)", 1) =!= "").as("ok")
  )

  /** Zeek TSV positional family (reference: parser/zeek.rs:71-79; conn
    * construction network.rs:124-142). `-` sentinel → 0 default, duration
    * seconds → rounded ns (network.rs:67-77).
    */
  def zeek(line: Column): Column = {
    val f = split(line, "\t")
    val tsParts = split(element_at(f, 1), "\\.")
    val dur = element_at(f, 8)
    struct(
      nsFromSecFrac(element_at(tsParts, 1), element_at(tsParts, 2)).as("ts_ns"),
      element_at(f, 2).as("uid"),
      element_at(f, 3).as("src_ip"),
      element_at(f, 4).cast("int").as("src_port"),
      element_at(f, 5).as("dst_ip"),
      element_at(f, 6).cast("int").as("dst_port"),
      element_at(f, 7).as("proto"),
      when(dur === "-", lit(0L))
        .otherwise(round(dur.cast("double") * lit(1e9)).cast("long")).as("duration_ns"),
      (size(f) >= 8).as("ok")
    )
  }

  /** Kind-dispatched parse: one branch per format family, mirroring the
    * reference's classify→parser dispatch (main.rs:525-543). Produces
    * flat common columns (ts_ns, level, src_ip, status_code, ok) plus the
    * per-kind struct for sink schemas, from the `raw_line` and `kind`
    * columns.
    */
  def parsed(df: DataFrame): DataFrame = {
    val (line, kind) = (col("raw_line"), col("kind"))
    // oplog/nginx match each line once (RegexpExtractStruct: 1.88–2.04×
    // on the regex stage against a regexp_extract per group; equal to the
    // builtins per RegexpExtractStructSpec); fgt/zeek are per-key regex /
    // split positional — no single-regex win
    val op = oplog(line); val ng = nginx(line)
    val fg = fgt(line); val zk = zeek(line)
    // one projection: a `withColumn` per column would re-analyze the plan
    // once per column
    df.select(col("*"),
      when(kind === "oplog", op("ts_ns"))
        .when(kind === "nginx", ng("ts_ns"))
        .when(kind === "fgt", fg("ts_ns"))
        .otherwise(zk("ts_ns")).as("ts_raw_ns"),
      when(kind === "oplog", op("level")).when(kind === "fgt", fg("action"))
        .otherwise(lit(null).cast("string")).as("level"),
      when(kind === "nginx", ng("src_ip")).when(kind === "fgt", fg("src_ip"))
        .when(kind === "zeek", zk("src_ip")).otherwise(lit(null).cast("string")).as("src_ip"),
      when(kind === "nginx", ng("status")).otherwise(lit(null).cast("int")).as("status_code"),
      when(kind === "oplog", op("ok")).when(kind === "nginx", ng("ok"))
        .when(kind === "fgt", fg("ok")).otherwise(zk("ok")).as("parse_ok"),
      length(line).cast("long").as("bytes"))
  }
}
