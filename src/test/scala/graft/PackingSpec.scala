package graft

import org.apache.spark.sql.functions._

import graft.ops.Packing
import graft.sources.Tables

/** Sequence packing laws: the packed stream IS the doc-order concatenation
  * of all token streams, cut every seqLen — verified by reconstructing both
  * sides; offsets computed by distributed prefix-sum must equal the
  * sequential scan.
  */
class PackingSpec extends SparkSpec {

  private val L = 128

  test("global offsets equal the sequential prefix sum (4 partitions)") {
    // Packing range-partitions into defaultParallelism partitions: 4 on the
    // shared local[4] test session
    assert(spark.sparkContext.defaultParallelism === 4)
    val toks = Tables.tokens(spark, Sf).select("doc_id", "tokens", "n_tok")
    val got = Packing.withGlobalOffsets(toks)
      .select("doc_id", "n_tok", "tok_offset")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .sortBy(_._1)
    var expect = 0L
    got.foreach { case (id, n, off) =>
      assert(off === expect, s"offset mismatch at $id")
      expect += n
    }
  }

  test("packed sequences = doc-order token concatenation cut every L; all exactly L long") {
    val toks = Tables.tokens(spark, Sf).select("doc_id", "tokens", "n_tok")
    val packed = Packing.pack(toks, L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).sortBy(_._1)
    assert(packed.nonEmpty)
    assert(packed.forall(_._2.length == L))
    // seq ids are contiguous 0..k-1
    assert(packed.map(_._1).toSeq === packed.indices.map(_.toLong))
    val flatPacked = packed.flatMap(_._2).toSeq
    val flatDocs = toks.orderBy("doc_id").collect().flatMap(_.getSeq[Int](1)).toSeq
    assert(flatPacked === flatDocs.take(flatPacked.length))
    // dropped tail is shorter than one sequence
    assert(flatDocs.length - flatPacked.length < L)
  }

  test("length batches equal the single-window reference implementation (4 partitions)") {
    import org.apache.spark.sql.expressions.Window
    assert(spark.sparkContext.defaultParallelism === 4)
    val toks = Tables.tokens(spark, Sf).select("doc_id", "n_tok")
    val B = 32
    val got = Packing.lengthBatches(Tables.tokens(spark, Sf), B)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    // reference: the naive global window (fine at spec scale, single-task
    // at corpus scale — which is exactly why lengthBatches exists)
    val w = Window.orderBy("n_tok", "doc_id")
    val expect = toks.withColumn("rk", row_number().over(w))
      .withColumn("batch_id", expr(s"(rk - 1) div $B"))
      .groupBy("batch_id").agg(count(lit(1)).as("n_seqs"),
        min("n_tok").as("min_tok"), max("n_tok").as("max_tok"),
        sum("n_tok").as("sum_tok"))
      .withColumn("pad_waste", col("max_tok") * col("n_seqs") - col("sum_tok"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    assert(got.nonEmpty)
    assert(got.toSeq === expect.toSeq)
    // batches are genuinely length-homogeneous: median per-batch spread is
    // tiny next to the global length range
    val spreads = got.map(t => t._4 - t._3).sorted
    val globalSpread = got.map(_._4).max - got.map(_._3).min
    assert(spreads(spreads.length / 2) * 5 <= globalSpread,
      s"median batch spread ${spreads(spreads.length / 2)} vs global $globalSpread")
  }
}
