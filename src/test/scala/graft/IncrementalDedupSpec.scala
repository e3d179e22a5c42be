package graft

import org.apache.spark.sql.functions._

import graft.ops.DedupOps
import graft.sources.Tables

/** Incremental near-dup drill: probing a delta against the standing
  * corpus's LSH bands equals the full-corpus LSH restricted to
  * (index, delta) pairs (incremental ≡ batch, the invariant that makes the
  * index trustworthy).
  */
class IncrementalDedupSpec extends SparkSpec {

  test("incremental LSH equals the delta-restricted full-LSH result and broadcasts the delta") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .repartition(spark.sparkContext.defaultParallelism)
    val sh = DedupOps.shingleRows(docs, "doc_id", "text", 8).localCheckpoint(true)
    val deltaPred = col("sid") % 5 === 0
    val incr = DedupOps.lshAgainstIndex(sh, deltaPred, k = 16, r = 4, minJacE6 = 300000L)

    // the broadcast side of the candidate probe must be the delta bands —
    // the standing corpus never shuffles on the band key
    val plan = incr.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "candidate probe is not a broadcast join")

    // full-corpus LSH + jaccard, restricted to (index, delta) pairs, must
    // equal the incremental result exactly (a_id < b_id in the full form
    // can put the delta doc on either side — normalize)
    val full = DedupOps.jaccardRows(sh, DedupOps.lshCandidatesRows(sh, k = 16, r = 4))
      .withColumn("jac_e6", expr("(inter * 1000000) div (sz_a + sz_b - inter)"))
      .where(col("jac_e6") >= 300000L)
      .where((col("doc_a") % 5 === 0) =!= (col("doc_b") % 5 === 0))
      .select(
        when(col("doc_a") % 5 === 0, col("doc_b")).otherwise(col("doc_a")).as("index_id"),
        when(col("doc_a") % 5 === 0, col("doc_a")).otherwise(col("doc_b")).as("delta_id"),
        col("jac_e6"))
    val a = incr.select("index_id", "delta_id", "jac_e6")
    assert(a.exceptAll(full).isEmpty && full.exceptAll(a).isEmpty,
      "incremental LSH diverges from the delta-restricted full LSH")
    // every reported duplicate is a delta doc matched to an index doc
    assert(incr.where(col("delta_id") % 5 =!= 0 || col("index_id") % 5 === 0).isEmpty)
  }
}
