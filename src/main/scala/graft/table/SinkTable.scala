package graft.table

import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.Report
import graft.sources.Tables

/** Iceberg-style table-with-snapshots on plain Parquet: a tiny
  * snapshot + per-commit summary manifest layer giving the pipeline
  * checkpoint-resume, mirroring the reference's two-phase checkpoint
  * (position advances only after the batch is acked —
  * /root/reference/src/collector/zeek.rs:92-94,155-161; src/checkpoint.rs:44-116).
  *
  * Layout:
  *   base/data/commit=<id>/...parquet        (immutable per-commit data)
  *   base/_manifests/<id>.json               (committed only AFTER data lands)
  *   base/_manifests/CURRENT                 (atomic pointer, rename swap)
  *
  * A manifest (v2) holds the commit's row count, its max `line_no` (the
  * resume point), the data's schema, and one report partial per sink
  * ([[SinkStats]]: records, sum/min/max bytes, ok, failed). All of it comes
  * from one `Dataset.observe` on the commit's own write, so a commit runs
  * no job after the write, and the report over every commit is a metadata
  * merge (`Report.fromManifests`). A commit's data directory is derived
  * from its id under `base`, so a copied or moved table reads its own data.
  * Each commit's files cluster their rows by sink (a sort within each write
  * task, no shuffle). A crashed write leaves data files but no manifest →
  * invisible to readers, re-run re-does only uncommitted input (idempotent, no dupes/gaps). Iceberg is not on the
  * classpath; this layer keeps the same contract behind a small API so a
  * real catalog drops in.
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
  private def currentPath: Path = manDir.resolve("CURRENT")

  def currentCommit: Option[Long] =
    if (Files.exists(currentPath)) Some(Files.readString(currentPath).trim.toLong) else None

  def manifests: Seq[Manifest] =
    Files.list(manDir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".json"))
      .sortBy(_.getFileName.toString)
      .map(SinkTable.load)

  /** Highest committed line_no — the resume point (analog of the
    * reference's decimal line-count checkpoint, src/collector.rs:28-30).
    * The resume filter is `Pipeline.run`'s: it commits only input rows
    * with a `line_no` past this point.
    */
  def committedMaxLineNo: Long = manifests.map(_.maxLineNo).foldLeft(-1L)(math.max)

  /** Two-phase commit: write data for this commit, THEN write the manifest,
    * THEN swap CURRENT atomically. df must carry `line_no`, `sink`, `bytes`
    * and `parse_ok`; every row's sink must be one of `Tables.SinkNames`.
    */
  def commit(df: DataFrame, commitId: Long): Manifest = {
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
    AtomicFile.write(currentPath, commitId.toString)
    m
  }

  /** Read = union of committed commits only (uncommitted data invisible). */
  def read(spark: SparkSession): DataFrame = {
    val dirs = manifests.map(m => commitDir(m.commitId))
    if (dirs.isEmpty) spark.emptyDataFrame else spark.read.parquet(dirs: _*)
  }

  /** Only `columns` of the committed rows, read with the schema the
    * manifests recorded, so no parquet footer is read to infer one. None
    * when nothing is committed. Fails, naming the manifest, when a commit's
    * data lacks one of the columns or stores it with another type.
    */
  def read(spark: SparkSession, columns: Seq[String]): Option[DataFrame] = {
    val ms = manifests
    ms.headOption.map { first =>
      val schema = StructType(columns.flatMap(c => first.schema.find(_.name == c)))
      ms.foreach { m =>
        val lacking = columns.filterNot(c =>
          m.schema.exists(f => f.name == c && schema.exists(g => g.name == c && g.dataType == f.dataType)))
        require(lacking.isEmpty, s"${manPath(m.commitId)}: committed data lacks " +
          lacking.map(c => s"`$c`").mkString(", ") +
          s" (or stores it with another type than commit ${first.commitId})")
      }
      spark.read.schema(schema).parquet(ms.map(m => commitDir(m.commitId)): _*)
    }
  }

  /** Roll back: drop the last manifest (data stays, becomes invisible). */
  def rollbackLast(): Unit = manifests.lastOption.foreach { m =>
    Files.deleteIfExists(manPath(m.commitId))
    manifests.lastOption match {
      case Some(prev) => AtomicFile.write(currentPath, prev.commitId.toString)
      case None => Files.deleteIfExists(currentPath)
    }
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
