package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Templates.NfRec

/** Persisted cross-RUN template dictionary — the batch analog of the
  * reference's NETFLOW_TEMPLATES_PATH (templates written at shutdown,
  * reloaded at startup — /root/reference/src/collector/netflow.rs:51-57,
  * 95-106): a later batch run's data-before-template packets decode with
  * the previous run's registrations instead of starting cold.
  *
  * Snapshot layout, committed in two phases (data, then pointer):
  *
  *   base/ver=<id>/...parquet       (one row per (exporter, templateId):
  *                                   the LATEST widths/types/scopeCnt)
  *   base/CURRENT                   (atomic pointer, rename swap — a
  *                                   crashed save leaves data but no
  *                                   pointer, so readers see the old state)
  *
  * The dictionary is bounded by live (exporter, template) pairs — a few
  * rows per router at any corpus size — so the save is a tiny aggregate
  * job and the load broadcasts trivially into the decode's exporter
  * partitioning.
  */
object TemplateStore {

  private val KeepVersions = 2 // snapshots kept by save: current + previous

  private def currentPath(base: String) = Paths.get(base, "CURRENT")

  private def currentVer(base: String): Option[Long] = {
    val p = currentPath(base)
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  /** Warm-start template rows from the persisted state; empty when no state
    * was ever saved. Loaded rows carry seq = Long.MinValue: they apply from
    * the very start of the run and any definition the new run carries
    * supersedes them (the reference reloads, then lets live templates
    * overwrite).
    */
  def load(spark: SparkSession, base: String): Dataset[NfRec] = {
    implicit val enc = Encoders.product[NfRec]
    currentVer(base) match {
      case Some(v) =>
        spark.read.parquet(s"$base/ver=$v")
          .withColumn("seq", lit(Long.MinValue))
          .as[NfRec]
      case None => spark.emptyDataset[NfRec]
    }
  }

  /** Merge this run's template definitions over the persisted state (latest
    * per (exporter, templateId) wins) and commit a new snapshot version.
    * Two-phase: parquet lands under the new ver dir first; CURRENT swaps by
    * atomic rename only afterwards. `KeepVersions` bounds snapshot retention
    * (see the prune note below for what an outstanding lazy reader needs).
    */
  def save(recs: Dataset[NfRec], base: String): Long = {
    val spark = recs.sparkSession
    Files.createDirectories(Paths.get(base))
    val merged = load(spark, base).toDF()
      .unionByName(recs.toDF().where(col("isTemplate")))
    val w = Window.partitionBy("exporter", "templateId")
      .orderBy(col("seq").desc)
    val dict = merged.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
    val ver = currentVer(base).getOrElse(0L) + 1
    dict.write.mode("overwrite").parquet(s"$base/ver=$ver")
    graft.table.AtomicFile.write(currentPath(base), ver.toString)
    // superseded snapshots are garbage once the pointer has swapped —
    // without this the store directory grows by one snapshot per run. The
    // prune keeps the newest KeepVersions: a decode that warm-started from
    // snapshot v is lazily reading v's parquet until it is materialized, so
    // each unconsumed decodeBatchResumable result tolerates one subsequent
    // save() before its backing files are deleted
    val dir = Paths.get(base).toFile
    Option(dir.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.getName.startsWith("ver=") &&
        f.getName.stripPrefix("ver=").toLongOption.exists(_ <= ver - KeepVersions))
        deleteTree(f)
    }
    ver
  }

  /** Delete `f` and everything under it; a missing `f` is a no-op. */
  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(); ()
  }

  /** [[Templates.decodeBatch]] with warm-started, persisted template state:
    * load the previous run's dictionary, decode this run's records against
    * (state ∪ new templates), and commit the updated dictionary. The state
    * update is a separate tiny job over template rows only — it does not
    * recompute the decode.
    */
  def decodeBatchResumable(ds: Dataset[NfRec], base: String): Dataset[Templates.NfDecoded] = {
    implicit val enc = Encoders.product[NfRec]
    val warm = load(ds.sparkSession, base)
    // union BY NAME: the parquet-loaded state's column order is the write
    // order, not necessarily the caller's select order — positional union
    // would silently cross-wire fields
    val out = Templates.decodeBatch(warm.toDF().unionByName(ds.toDF()).as[NfRec])
    save(ds, base)
    out
  }
}
