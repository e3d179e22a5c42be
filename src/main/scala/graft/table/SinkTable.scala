package graft.table

import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iceberg-style table-with-snapshots on plain Parquet: a tiny
  * snapshot + per-partition lineage manifest layer giving the pipeline
  * checkpoint-resume, mirroring the reference's two-phase checkpoint
  * (position advances only after the batch is acked —
  * /root/reference/src/collector/zeek.rs:92-94,155-161; src/checkpoint.rs:44-116).
  *
  * Layout:
  *   base/data/commit=<id>/...parquet        (immutable per-commit data)
  *   base/_manifests/<id>.json               (committed only AFTER data lands)
  *   base/_manifests/CURRENT                 (atomic pointer, rename swap)
  *
  * A manifest lists the commit's input lineage (e.g. max line_no per input
  * bucket) and row count. A crashed write leaves data files but no
  * manifest → invisible to readers, re-run re-does only uncommitted input
  * (idempotent, no dupes/gaps). The sandbox has no Iceberg jars; this layer
  * keeps the same contract behind a small API so a real catalog drops in.
  */
final case class Manifest(commitId: Long, rows: Long, maxLineNo: Long, partitions: Seq[String])

final class SinkTable(base: String) {
  private val dataDir = Paths.get(base, "data")
  private val manDir = Paths.get(base, "_manifests")
  Files.createDirectories(dataDir); Files.createDirectories(manDir)

  private def manPath(id: Long): Path = manDir.resolve(f"$id%012d.json")
  private def currentPath: Path = manDir.resolve("CURRENT")

  def currentCommit: Option[Long] =
    if (Files.exists(currentPath)) Some(Files.readString(currentPath).trim.toLong) else None

  def manifests: Seq[Manifest] =
    Files.list(manDir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".json"))
      .sortBy(_.getFileName.toString)
      .map(p => parse(Files.readString(p)))

  /** Highest committed line_no — the resume point (analog of the
    * reference's decimal line-count checkpoint, src/collector.rs:28-30).
    */
  def committedMaxLineNo: Long = manifests.map(_.maxLineNo).foldLeft(-1L)(math.max)

  /** Two-phase commit: write data for this commit, THEN write the manifest,
    * THEN swap CURRENT atomically. df must carry a `line_no` column.
    */
  def commit(df: DataFrame, commitId: Long): Manifest = {
    import org.apache.spark.sql.functions._
    val dir = dataDir.resolve(f"commit=$commitId%012d").toString
    df.write.mode("overwrite").parquet(dir)
    val spark = df.sparkSession
    val stats = spark.read.parquet(dir).agg(count(lit(1)), coalesce(max(col("line_no")), lit(-1L))).head()
    val m = Manifest(commitId, stats.getLong(0), stats.getLong(1), Seq(dir))
    AtomicFile.write(manPath(commitId), render(m))
    AtomicFile.write(currentPath, commitId.toString)
    m
  }

  /** Append only the rows past the committed resume point. Returns rows written. */
  def appendResumable(df: DataFrame, commitId: Long): Manifest = {
    import org.apache.spark.sql.functions._
    val from = committedMaxLineNo
    commit(df.where(col("line_no") > from), commitId)
  }

  /** Read = union of committed commits only (uncommitted data invisible). */
  def read(spark: SparkSession): DataFrame = {
    val committed = manifests.map(_.commitId).toSet
    val dirs = Files.list(dataDir).iterator().asScala.toSeq
      .filter(p => committed.contains(p.getFileName.toString.stripPrefix("commit=").toLong))
      .map(_.toString)
    if (dirs.isEmpty) spark.emptyDataFrame else spark.read.parquet(dirs: _*)
  }

  /** Roll back: drop the last manifest (data stays, becomes invisible). */
  def rollbackLast(): Unit = manifests.lastOption.foreach { m =>
    Files.deleteIfExists(manPath(m.commitId))
    manifests.lastOption match {
      case Some(prev) => AtomicFile.write(currentPath, prev.commitId.toString)
      case None => Files.deleteIfExists(currentPath)
    }
  }

  private def render(m: Manifest): String =
    s"""{"commit_id":${m.commitId},"rows":${m.rows},"max_line_no":${m.maxLineNo},""" +
      s""""partitions":[${m.partitions.map(p => "\"" + p + "\"").mkString(",")}]}"""

  private def parse(s: String): Manifest = {
    def num(k: String): Long =
      s"""\"$k\":(-?\\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
        .getOrElse(sys.error(s"bad manifest: $s"))
    val parts = "\"partitions\":\\[([^\\]]*)\\]".r.findFirstMatchIn(s)
      .map(_.group(1).split(",").toSeq.filter(_.nonEmpty).map(_.replaceAll("\"", "")))
      .getOrElse(Seq.empty)
    Manifest(num("commit_id"), num("rows"), num("max_line_no"), parts)
  }
}
