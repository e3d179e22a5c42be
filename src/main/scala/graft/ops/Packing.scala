package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Training-sequence packing: concatenate documents' token streams in doc_id
  * order and cut fixed-length training sequences of `seqLen` tokens — the
  * data-prep step between a tokenized corpus and an LLM training run. Docs
  * straddle sequence boundaries (standard "document packing" — no padding
  * waste).
  *
  * Scale design: the global token offset of each doc is a prefix sum. A
  * window `sum() over (order by doc_id)` would funnel 10^12 rows through ONE
  * partition, so it is computed distributed instead:
  *   1. range-partition + sort by doc_id (global order, parallel, into
  *      `defaultParallelism` partitions),
  *   2. per-partition token sums → driver (one long per partition),
  *   3. scan-sum those P values (P ~ thousands: driver-trivial),
  *   4. broadcast the per-partition base offsets back; each row's global
  *      offset = partition base + local running sum (one partition-local
  *      pass, no shuffle).
  * Then sequence_id = floor(offset / seqLen) and the explode→groupBy cut is
  * ordinary shuffle-parallel work.
  */
object Packing {

  /** (doc_id, tokens, n_tok) → same rows plus a global `tok_offset`. */
  def withGlobalOffsets(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val ordered = docs
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("doc_id"))
      .sortWithinPartitions("doc_id")
    val schema = StructType(ordered.schema.fields :+ StructField("tok_offset", LongType, nullable = false))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(schema))
    val nTokIdx = ordered.schema.fieldIndex("n_tok")

    // phase 1: per-partition token totals (tiny driver collect: one long each)
    val sums = ordered.rdd
      .mapPartitionsWithIndex { (pi, it) =>
        var s = 0L; it.foreach(r => s += r.getInt(nTokIdx)); Iterator((pi, s))
      }.collect().sortBy(_._1).map(_._2)
    val bases = sums.scanLeft(0L)(_ + _) // base offset per partition
    val basesB = spark.sparkContext.broadcast(bases)

    // phase 2: partition-local running sum on top of the broadcast base
    val withOff = ordered.rdd.mapPartitionsWithIndex { (pi, it) =>
      var off = basesB.value(pi)
      it.map { r =>
        val out = Row.fromSeq(r.toSeq :+ off)
        off += r.getInt(nTokIdx)
        out
      }
    }
    spark.createDataFrame(withOff, schema)
  }

  /** Pack into sequences of exactly `seqLen` tokens (last partial sequence
    * dropped, as training pipelines do). Output: (seq_id, tokens, n_docs).
    *
    * The cut shuffles BOUNDARY FRAGMENTS, not tokens: each doc covers
    * ≤ n_tok/seqLen + 1 sequences, and emits one (seq_id, in-seq position,
    * token-array slice) row per covered sequence. The exchange carries
    * O(docs + boundary fragments) rows whose payload is exactly the corpus
    * bytes — no per-token row overhead (an earlier explode→groupBy form
    * shuffled one 20-30-byte row PER TOKEN, several× corpus size at scale).
    * Each output group re-assembles ≤ seqLen tokens from its few fragments.
    */
  def pack(docs: DataFrame, seqLen: Int): DataFrame = {
    val L = seqLen.toLong
    val withOff = withGlobalOffsets(docs.select("doc_id", "tokens", "n_tok"))
    val frags = withOff
      .where(col("n_tok") > 0)
      .select(col("doc_id"), col("tok_offset"), col("tokens"), col("n_tok"),
        explode(sequence(floor(col("tok_offset") / L).cast("long"),
          floor((col("tok_offset") + col("n_tok") - 1) / L).cast("long"))).as("seq_id"))
      // local slice [lo, hi) of this doc's tokens that lands in seq_id, and
      // the position within the sequence where the slice starts
      .select(col("doc_id"), col("seq_id"),
        greatest(col("tok_offset") - col("seq_id") * L, lit(0L)).as("start_pos"),
        slice(col("tokens"),
          (greatest(col("seq_id") * L - col("tok_offset"), lit(0L)) + 1).cast("int"),
          (least(col("n_tok").cast("long"), (col("seq_id") + 1) * L - col("tok_offset")) -
            greatest(col("seq_id") * L - col("tok_offset"), lit(0L))).cast("int")).as("frag"))
    // n_docs = fragment count: a doc covering a sequence contributes exactly
    // ONE (non-empty) fragment to it, so count(*) ≡ countDistinct(doc_id)
    // for unique input doc_ids — and avoids countDistinct's two-level
    // aggregate, which would push the token payload through a second
    // exchange keyed (seq_id, doc_id)
    frags
      .groupBy("seq_id")
      .agg(
        flatten(transform(array_sort(collect_list(struct(col("start_pos"), col("frag")))),
          s => s("frag"))).as("tokens"),
        count(lit(1)).as("n_docs"),
        sum(size(col("frag"))).as("n_tok"))
      .where(col("n_tok") === seqLen) // drop the trailing partial sequence
      .drop("n_tok")
  }

  /** Length-grouped batch assembly: order sequences by (n_tok, doc_id),
    * cut batches of `batchSize` consecutive ranks, and report each batch's
    * padding waste when padded to its own max length — the data-prep step
    * that decides how much compute dynamic batching saves over random
    * batching (similar-length neighbors ⇒ near-zero pad).
    *
    * The global rank is the same distributed prefix-sum as
    * [[withGlobalOffsets]] — a bare `row_number() over (order by ...)`
    * would funnel the corpus through ONE task: range-partition + local
    * sort gives the global order in parallel, per-partition ROW COUNTS
    * (one long each) come to the driver, their scan-sum broadcasts back as
    * per-partition base ranks, and each row's rank is base + local
    * position. Ties cannot straddle reorderings: (n_tok, doc_id) is a
    * total order.
    *
    * Output: (batch_id, n_seqs, min_tok, max_tok, sum_tok, pad_waste).
    */
  def lengthBatches(docs: DataFrame, batchSize: Int): DataFrame = {
    val spark = docs.sparkSession
    // ONE materialization feeds both passes (per-partition counts, then the
    // rank walk): without it the repartitionByRange+sort lineage executes
    // twice, and the ranks would additionally lean on Spark reusing
    // identical shuffle output across the two jobs — the same
    // branch-recompute class every other two-consumer frame here guards
    // with localCheckpoint. Row order and partition indexing are preserved
    // by the checkpoint, which is what the base-rank arithmetic needs.
    val ordered = docs.select("doc_id", "n_tok")
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("n_tok"), col("doc_id"))
      .sortWithinPartitions("n_tok", "doc_id")
      .localCheckpoint(true)
    val schema = StructType(ordered.schema.fields :+ StructField("rk", LongType, nullable = false))
    val cnts = ordered.rdd
      .mapPartitionsWithIndex { (pi, it) => Iterator((pi, it.size.toLong)) }
      .collect().sortBy(_._1).map(_._2)
    val bases = cnts.scanLeft(0L)(_ + _)
    val basesB = spark.sparkContext.broadcast(bases)
    val ranked = ordered.rdd.mapPartitionsWithIndex { (pi, it) =>
      var rk = basesB.value(pi)
      it.map { r => rk += 1; Row.fromSeq(r.toSeq :+ rk) }
    }
    spark.createDataFrame(ranked, schema)
      .withColumn("batch_id", expr(s"(rk - 1) div $batchSize"))
      .groupBy("batch_id").agg(
        count(lit(1)).as("n_seqs"),
        min(col("n_tok")).as("min_tok"),
        max(col("n_tok")).as("max_tok"),
        sum(col("n_tok")).as("sum_tok"))
      .withColumn("pad_waste", col("max_tok") * col("n_seqs") - col("sum_tok"))
  }
}
