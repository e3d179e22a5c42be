package graft.table

import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.Report
import graft.sources.Tables

/** Iceberg-style table-with-snapshots on plain Parquet: per-commit data
  * plus a summary manifest give the pipeline checkpoint-resume, as the
  * reference's position advances only after the batch is acked (reference
  * src/collector/zeek.rs:92-94,155-161; src/checkpoint.rs:44-116).
  *
  * Layout:
  *   base/data/commit=<id>/...parquet        (immutable per-commit data)
  *   base/_manifests/<id>.json               (written only AFTER data lands)
  *
  * The manifests are the table: the atomic write of `<id>.json` is the
  * commit point. A crashed commit leaves data but no manifest, invisible to
  * readers, and a re-run with that id overwrites it (no dupes/gaps). A
  * committed id is never written again. A table lists its manifests once,
  * at open, and answers from that listing plus its own commits/rollbacks.
  *
  * A manifest (v2) holds the commit's row count, its max `line_no` (the
  * resume point), the data's schema, and one report partial per sink
  * ([[SinkStats]]: records, sum/min/max bytes, ok, failed), all observed on
  * the commit's own write: no job runs after it, and the report is a
  * metadata merge (`Report.fromManifests`). Reads use the recorded schema.
  * Data directories derive from the id under `base`, so a moved table
  * reads its own data; each commit's files cluster rows by sink. Iceberg is
  * not on the classpath; this small API keeps its contract so one drops in.
  *
  * Pipeline sinks also store `ts_raw_ns`, the dedup window's lineage: a
  * resumed commit continues the committed equal-ts groups from the table's
  * narrow `(source, line_no, ts_raw_ns)` keys (`read(spark, columns)`),
  * so it parses only the rows past the resume point. Those keys are read
  * for every committed row: the one per-commit cost that grows with the
  * table.
  */
final case class Manifest(commitId: Long, rows: Long, maxLineNo: Long, schema: StructType,
                          sinks: Seq[SinkStats])

/** One sink's mergeable report partial within a commit. */
final case class SinkStats(sink: String, records: Long, sumBytes: Long, minBytes: Long,
                           maxBytes: Long, successCnt: Long, failedCnt: Long) {
  def merge(o: SinkStats): SinkStats =
    SinkStats(sink, records + o.records, sumBytes + o.sumBytes, math.min(minBytes, o.minBytes),
      math.max(maxBytes, o.maxBytes), successCnt + o.successCnt, failedCnt + o.failedCnt)
}

final class SinkTable(base: String) {
  private val dataDir = Paths.get(base, "data")
  private val manDir = Paths.get(base, "_manifests")
  Files.createDirectories(dataDir); Files.createDirectories(manDir)

  private def manPath(id: Long): Path = manDir.resolve(f"$id%012d.json")
  private def commitDir(id: Long): String = dataDir.resolve(f"commit=$id%012d").toString

  private def list(): Seq[Manifest] =
    Files.list(manDir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".json"))
      .sortBy(_.getFileName.toString)
      .map(SinkTable.load)

  private var listed: Seq[Manifest] = list()

  /** Committed snapshots in id order: the listing made at open, plus own commits/rollbacks. */
  def manifests: Seq[Manifest] = listed

  /** Highest committed line_no — the resume point (analog of the
    * reference's decimal line-count checkpoint, src/collector.rs:28-30).
    * The resume filter is `Pipeline.run`'s: it commits only input rows
    * with a `line_no` past this point.
    */
  def committedMaxLineNo: Long = listed.map(_.maxLineNo).foldLeft(-1L)(math.max)

  /** Write the data, THEN the manifest (the commit point). An id with a
    * manifest on disk fails, naming it, before any data is written. df must
    * carry `line_no`, `sink`, `bytes` and `parse_ok`; every row's sink must
    * be one of `Tables.SinkNames`.
    */
  def commit(df: DataFrame, commitId: Long): Manifest = {
    require(!Files.exists(manPath(commitId)),
      s"${manPath(commitId)}: commit $commitId is already committed, and a committed id is never overwritten")
    val dir = commitDir(commitId)
    val obs = Observation()
    df.sortWithinPartitions(col("sink")).observe(obs, count(lit(1)).as("rows"),
        coalesce(max(col("line_no")), lit(-1L)).as("max_line_no") +: Report.partials(Tables.SinkNames): _*)
      .write.mode("overwrite").parquet(dir)
    val stats = obs.get
    val rows = stats("rows").asInstanceOf[Long]
    val sinks = Tables.SinkNames.flatMap(s => Report.stats(s, stats(s).asInstanceOf[Row]))
    require(sinks.map(_.records).sum == rows,
      s"$dir: ${rows - sinks.map(_.records).sum} of $rows rows routed to no sink of " +
        Tables.SinkNames.mkString("[", ", ", "]"))
    val m = Manifest(commitId, rows, stats("max_line_no").asInstanceOf[Long], df.schema, sinks)
    AtomicFile.write(manPath(commitId), SinkTable.render(m))
    listed = (listed.filter(_.commitId != commitId) :+ m).sortBy(_.commitId)
    m
  }

  /** Every recorded column of the committed rows; empty when nothing is committed. */
  def read(spark: SparkSession): DataFrame =
    read(spark, listed.flatMap(_.schema.fieldNames).distinct).getOrElse(spark.emptyDataFrame)

  /** Only `columns` of the committed rows, read with the schema the
    * manifests recorded, so no parquet footer is read to infer one. None
    * when nothing is committed. Fails, naming the manifest, when a commit's
    * data lacks one of the columns or stores it with another type.
    */
  def read(spark: SparkSession, columns: Seq[String]): Option[DataFrame] =
    listed.headOption.map { first =>
      val schema = StructType(columns.flatMap(c => first.schema.find(_.name == c)))
      listed.foreach { m =>
        val lacking = columns.filterNot(c =>
          m.schema.exists(f => f.name == c && schema.exists(g => g.name == c && g.dataType == f.dataType)))
        require(lacking.isEmpty, s"${manPath(m.commitId)}: committed data lacks " +
          lacking.map(c => s"`$c`").mkString(", ") +
          s" (or stores it with another type than commit ${first.commitId})")
      }
      spark.read.schema(schema).parquet(listed.map(m => commitDir(m.commitId)): _*)
    }

  /** Roll back: drop the last manifest on disk (listed anew; its data stays, invisible). */
  def rollbackLast(): Unit = {
    listed = list()
    listed.lastOption.foreach { m => Files.deleteIfExists(manPath(m.commitId)); listed = listed.init }
  }
}

object SinkTable {
  private val Version = 2
  private val Json = new ObjectMapper()

  private def render(m: Manifest): String = {
    val o = Json.createObjectNode()
    o.put("version", Version).put("commit_id", m.commitId).put("rows", m.rows)
      .put("max_line_no", m.maxLineNo)
    o.set[JsonNode]("schema", Json.readTree(m.schema.json))
    val sinks = o.putArray("sinks")
    m.sinks.foreach { s =>
      sinks.addObject().put("sink", s.sink).put("records", s.records).put("sum_bytes", s.sumBytes)
        .put("min_bytes", s.minBytes).put("max_bytes", s.maxBytes)
        .put("success_cnt", s.successCnt).put("failed_cnt", s.failedCnt)
    }
    Json.writeValueAsString(o)
  }

  /** Parses a v2 manifest; any other version fails naming the file. */
  private def load(p: Path): Manifest = {
    val o = Json.readTree(Files.readString(p))
    val version = o.path("version").asInt(1)
    require(version == Version,
      s"$p: manifest v$version, this build reads only v$Version (per-sink stats and schema); " +
        "re-commit the table")
    def field(n: JsonNode, k: String): JsonNode =
      Option(n.get(k)).filterNot(_.isNull).getOrElse(sys.error(s"$p: manifest lacks `$k`"))
    def num(n: JsonNode, k: String): Long = field(n, k).asLong
    val sinks = field(o, "sinks").elements().asScala.map { s =>
      SinkStats(field(s, "sink").asText, num(s, "records"), num(s, "sum_bytes"),
        num(s, "min_bytes"), num(s, "max_bytes"), num(s, "success_cnt"), num(s, "failed_cnt"))
    }.toSeq
    Manifest(num(o, "commit_id"), num(o, "rows"), num(o, "max_line_no"),
      DataType.fromJson(field(o, "schema").toString).asInstanceOf[StructType], sinks)
  }
}
