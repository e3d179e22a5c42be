package graft.table

import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.{Dedup, Report}
import graft.operators.Dedup.{RunEnd, RunEnds}
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
  * readers, and a re-run with that id overwrites it (no dupes/gaps). Commit
  * ids rise: a commit's id must exceed every committed one, so a committed
  * id is never written again and the last manifest by id is the newest. A
  * table lists its manifests once, at open, and answers from that listing
  * plus its own commits/rollbacks; it commits only while that listing is
  * the disk's.
  *
  * A manifest (v3) holds the commit's row count, its max `line_no` (the
  * resume point), the data's schema, one report partial per sink
  * ([[SinkStats]]: records, sum/min/max bytes, ok, failed), which path wrote
  * it ([[Writer]]), and the table's sequencing state after it (`sources`:
  * one [[graft.operators.Dedup.RunEnd]] per source, the last ts and the
  * length of the equal-ts run it ends). All are observed on the commit's own
  * write: no job runs after it, and the report is a metadata merge
  * (`Report.fromManifests`). Reads use the recorded schema.
  * Data directories derive from the id under `base`, so a moved table
  * reads its own data; each commit's files cluster rows by sink. Iceberg is
  * not on the classpath; this small API keeps its contract so one drops in.
  *
  * v3 layout of `_manifests/<id>.json`:
  * {{{
  * {"version": 3, "commit_id": 4, "writer": "batch" | "stream", "rows": 1000,
  *  "max_line_no": 10999, "schema": {<Spark StructType json>},
  *  "sinks":   [{"sink", "records", "sum_bytes", "min_bytes", "max_bytes",
  *               "success_cnt", "failed_cnt"}, ...],
  *  "sources": [{"source": "src17" | null, "ts": 1700000123000000000, "run_len": 1}, ...]}
  * }}}
  * `sources` is the whole table's state, not the commit's: each commit
  * updates the previous manifest's with the run ends its rows observed
  * (`Dedup.nextRunEnds`; a source with no line with a ts in the commit
  * keeps its run end). So the resume state is the last manifest's, as the
  * resume point is the max `line_no`, and a rollback restores both. A
  * resumed commit reads no committed row.
  */
final case class Manifest(commitId: Long, writer: Writer, rows: Long, maxLineNo: Long,
                          schema: StructType, sinks: Seq[SinkStats], runEnds: RunEnds)

/** One sink's mergeable report partial within a commit. */
final case class SinkStats(sink: String, records: Long, sumBytes: Long, minBytes: Long,
                           maxBytes: Long, successCnt: Long, failedCnt: Long) {
  def merge(o: SinkStats): SinkStats =
    SinkStats(sink, records + o.records, sumBytes + o.sumBytes, math.min(minBytes, o.minBytes),
      math.max(maxBytes, o.maxBytes), successCnt + o.successCnt, failedCnt + o.failedCnt)
}

/** The commit path that wrote a manifest: a `Pipeline.run` or a streamed
  * micro-batch. A stream replays only its own commits.
  */
sealed abstract class Writer(val name: String)
object Writer {
  case object Batch extends Writer("batch")
  case object Stream extends Writer("stream")
  val All: Seq[Writer] = Seq(Batch, Stream)
}

final class SinkTable(base: String) {
  private val dataDir = Paths.get(base, "data")
  private val manDir = Paths.get(base, "_manifests")
  Files.createDirectories(dataDir); Files.createDirectories(manDir)

  /** Where commit `id`'s manifest is (or would be) published. */
  def manifestPath(id: Long): Path = manDir.resolve(f"$id%012d.json")
  private def commitDir(id: Long): String = dataDir.resolve(f"commit=$id%012d").toString

  /** The manifest files on disk, in id order (the names are zero-padded ids). */
  private def manifestFiles(): Seq[Path] =
    Files.list(manDir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".json"))
      .sortBy(_.getFileName.toString)

  private def list(): Seq[Manifest] = manifestFiles().map(SinkTable.load)

  private var listed: Seq[Manifest] = list()

  /** Committed snapshots in id order: the listing made at open, plus own commits/rollbacks. */
  def manifests: Seq[Manifest] = listed

  /** Highest committed line_no — the resume point (analog of the
    * reference's decimal line-count checkpoint, src/collector.rs:28-30).
    * The resume filter is `Pipeline.run`'s: it commits only input rows
    * with a `line_no` past this point.
    */
  def committedMaxLineNo: Long = listed.map(_.maxLineNo).foldLeft(-1L)(math.max)

  /** The sequencing state after the last commit: each source's run end. */
  def runEnds: RunEnds = listed.lastOption.fold(Map.empty: RunEnds)(_.runEnds)

  /** Write the data, THEN the manifest (the commit point). `commitId` must
    * exceed every committed id, so the last manifest by id is the newest
    * and holds the table's run ends; an id at or below it fails, naming the
    * last manifest, before any data is written. So does a commit through a
    * listing that another instance's commit or rollback has made stale:
    * df was sequenced from this listing's run ends and resume point. df
    * must carry `line_no`, `sink`, `bytes`, `parse_ok` and
    * `Dedup.RunEndCol` (observed, not written); every row's sink must be
    * one of `Tables.SinkNames`.
    */
  def commit(df: DataFrame, commitId: Long, writer: Writer): Manifest = {
    val last = manifestFiles().lastOption
    def idOf(p: Path): Long = p.getFileName.toString.stripSuffix(".json").toLong
    last.foreach { p =>
      require(commitId > idOf(p),
        s"$p: commit $commitId is not past the last commit; commit ids rise with each commit, " +
          "and a committed id is never overwritten")
    }
    require(last.map(idOf) == listed.lastOption.map(_.commitId),
      s"${last.getOrElse(manDir)}: the last commit on disk is not the last one this table listed " +
        s"(${listed.lastOption.fold("none")(m => manifestPath(m.commitId).toString)}); " +
        "reopen the table and sequence anew")
    val dir = commitDir(commitId)
    val obs = Observation()
    val observed = Seq(count(lit(1)).as("rows"),
      coalesce(max(col("line_no")), lit(-1L)).as("max_line_no"),
      collect_list(col(Dedup.RunEndCol)).as("run_ends")) ++ Report.partials(Tables.SinkNames)
    df.sortWithinPartitions(col("sink")).observe(obs, observed.head, observed.tail: _*)
      .drop(Dedup.RunEndCol).write.mode("overwrite").parquet(dir)
    val stats = obs.get
    val rows = stats("rows").asInstanceOf[Long]
    val sinks = Tables.SinkNames.flatMap(s => Report.stats(s, stats(s).asInstanceOf[Row]))
    require(sinks.map(_.records).sum == rows,
      s"$dir: ${rows - sinks.map(_.records).sum} of $rows rows routed to no sink of " +
        Tables.SinkNames.mkString("[", ", ", "]"))
    val ends = Dedup.nextRunEnds(runEnds, stats("run_ends").asInstanceOf[Seq[Row]])
    val m = Manifest(commitId, writer, rows, stats("max_line_no").asInstanceOf[Long],
      StructType(df.schema.filterNot(_.name == Dedup.RunEndCol)), sinks, ends)
    AtomicFile.write(manifestPath(commitId), SinkTable.render(m))
    listed = listed :+ m
    m
  }

  /** Every recorded column of the committed rows, read with the schema the
    * manifests recorded, so no parquet footer is read to infer one; empty
    * when nothing is committed. Fails, naming the manifest, when a commit's
    * data lacks a column or stores it with another type.
    */
  def read(spark: SparkSession): DataFrame =
    listed.headOption.fold(spark.emptyDataFrame) { first =>
      val columns = listed.flatMap(_.schema.fieldNames).distinct
      val schema = StructType(columns.flatMap(c => first.schema.find(_.name == c)))
      listed.foreach { m =>
        val lacking = columns.filterNot(c =>
          m.schema.exists(f => f.name == c && schema.exists(g => g.name == c && g.dataType == f.dataType)))
        require(lacking.isEmpty, s"${manifestPath(m.commitId)}: committed data lacks " +
          lacking.map(c => s"`$c`").mkString(", ") +
          s" (or stores it with another type than commit ${first.commitId})")
      }
      spark.read.schema(schema).parquet(listed.map(m => commitDir(m.commitId)): _*)
    }

  /** Roll back: drop the last manifest on disk (listed anew; its data stays, invisible). */
  def rollbackLast(): Unit = {
    listed = list()
    listed.lastOption.foreach { m => Files.deleteIfExists(manifestPath(m.commitId)); listed = listed.init }
  }
}

object SinkTable {
  private val Version = 3
  private val Json = new ObjectMapper()

  private def render(m: Manifest): String = {
    val o = Json.createObjectNode()
    o.put("version", Version).put("commit_id", m.commitId).put("writer", m.writer.name)
      .put("rows", m.rows).put("max_line_no", m.maxLineNo)
    o.set[JsonNode]("schema", Json.readTree(m.schema.json))
    val sinks = o.putArray("sinks")
    m.sinks.foreach { s =>
      sinks.addObject().put("sink", s.sink).put("records", s.records).put("sum_bytes", s.sumBytes)
        .put("min_bytes", s.minBytes).put("max_bytes", s.maxBytes)
        .put("success_cnt", s.successCnt).put("failed_cnt", s.failedCnt)
    }
    val sources = o.putArray("sources")
    m.runEnds.toSeq.sortBy(_._1).foreach { case (src, e) =>
      sources.addObject().put("source", src.orNull).put("ts", e.ts).put("run_len", e.runLen)
    }
    Json.writeValueAsString(o)
  }

  /** Parses a v3 manifest; any other version, or a missing field, fails naming the file. */
  private def load(p: Path): Manifest = {
    val o = Json.readTree(Files.readString(p))
    val version = o.path("version").asInt(1)
    require(version == Version,
      s"$p: manifest v$version, this build reads only v$Version (per-sink stats, schema, " +
        "writer and per-source sequencing state); re-commit the table")
    def field(n: JsonNode, k: String): JsonNode =
      Option(n.get(k)).filterNot(_.isNull).getOrElse(throw new IllegalArgumentException(s"$p: manifest lacks `$k`"))
    def num(n: JsonNode, k: String): Long = field(n, k).asLong
    val sinks = field(o, "sinks").elements().asScala.map { s =>
      SinkStats(field(s, "sink").asText, num(s, "records"), num(s, "sum_bytes"),
        num(s, "min_bytes"), num(s, "max_bytes"), num(s, "success_cnt"), num(s, "failed_cnt"))
    }.toSeq
    val name = field(o, "writer").asText
    val writer = Writer.All.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"$p: manifest writer `$name` is none of ${Writer.All.map(_.name).mkString(", ")}"))
    val runEnds = field(o, "sources").elements().asScala.map { s =>
      Option(s.get("source")).filterNot(_.isNull).map(_.asText) -> RunEnd(num(s, "ts"), num(s, "run_len"))
    }.toMap
    Manifest(num(o, "commit_id"), writer, num(o, "rows"), num(o, "max_line_no"),
      DataType.fromJson(field(o, "schema").toString).asInstanceOf[StructType], sinks, runEnds)
  }
}
