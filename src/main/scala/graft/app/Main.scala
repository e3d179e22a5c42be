package graft.app

import org.apache.spark.sql.SparkSession
import graft.plans.Pipeline
import graft.table.SinkTable

/** spark-submit entrypoint: run the full parse→enrich→route→aggregate
  * pipeline over a testdata dir, write per-sink tables + manifest, print the
  * per-sink report and each commit's manifest stats.
  * Args: <sfDir> <outBase> [commitId] [--rollback-first], the last two in
  * either order; commitId defaults to the last committed id + 1 (1 if none).
  *
  * `--rollback-first` drops the last manifest before running — the resume
  * drill: re-running must produce identical sink contents (no dupes/gaps),
  * mirroring the reference's checkpoint semantics
  * (/root/reference/src/checkpoint.rs:44-116).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outBase = if (args.length > 1) args(1) else "/tmp/graft_out"
    val commitArg = args.drop(2).filterNot(_ == "--rollback-first").headOption
    val rollback = args.contains("--rollback-first")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.Sessions.local(cpus, "graft-pipeline")

    val table = new SinkTable(outBase)
    if (rollback) table.rollbackLast()
    val commitId = commitArg.fold(table.manifests.lastOption.fold(1L)(_.commitId + 1))(_.toLong)
    val report = Pipeline.run(spark, sfDir, outBase, commitId)
    report.orderBy("sink").show(50, truncate = false)

    // committed rows and per-sink stats come from the manifests: no scan
    val ms = new SinkTable(outBase).manifests
    println(s"[graft] manifests=${ms.map(m => s"#${m.commitId}:rows=${m.rows},maxLine=${m.maxLineNo}").mkString(" ")}")
    for (m <- ms; s <- m.sinks)
      println(s"[graft] #${m.commitId} ${s.sink}: records=${s.records} bytes(sum/min/max)=" +
        s"${s.sumBytes}/${s.minBytes}/${s.maxBytes} ok=${s.successCnt} failed=${s.failedCnt}")
    println(s"[graft] committed_rows=${ms.map(_.rows).sum} commit=$commitId")
    spark.stop()
  }
}
