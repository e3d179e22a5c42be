package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{Parse, Route}
import graft.table.SinkTable

/** Structured Streaming form of the pipeline — the Spark-native
  * re-expression of the reference's polling-tail collect loop
  * (/root/reference/src/collector.rs:25 3-second EOF poll;
  * src/bin/reproduce/main.rs:861-896 10-second directory rescan).
  *
  * The streaming file source subsumes both polls: new files in `inDir` are
  * discovered per trigger, offsets live in the checkpoint dir (the analog of
  * the reference's line-count checkpoint file — src/checkpoint.rs:44-116),
  * and `Trigger.AvailableNow` gives drain-then-stop semantics for tests.
  *
  * Fan-out happens in foreachBatch with a two-phase SinkTable commit keyed
  * by micro-batch id: a replayed batch (post-crash) sees its manifest already
  * present and skips the write — exactly-once sink contents on top of the
  * source's at-least-once replay, mirroring the reference's
  * "position advances only after the batch is acked" two-phase commit
  * (src/collector/zeek.rs:92-94,155-161).
  */
object StreamPipeline {

  /** Schema of the staged raw-event files (Tables.rawEvents shape). */
  val rawSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("tokens", ArrayType(IntegerType)),
    StructField("n_tok", IntegerType),
    StructField("source", StringType),
    StructField("line_no", LongType),
    StructField("raw_line", StringType),
    StructField("kind", StringType)))

  def readRaw(spark: SparkSession, inDir: String, maxFilesPerTrigger: Int = 8): DataFrame =
    spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)

  /** Stateless per-record stages (parse + route). The order-dependent dedup
    * windows are batch-only by design: the reference applies them within one
    * file's line order, which the batch path preserves; a streaming total
    * order across micro-batches would need mapGroupsWithState for no
    * semantic gain here.
    */
  def transform(raw: DataFrame): DataFrame = Route.routed(Parse.parsed(raw))

  /** Start the drain-available pipeline: parse→route→fan-out sinks with
    * idempotent per-batch manifest commits.
    */
  def run(spark: SparkSession, inDir: String, outBase: String,
          checkpointDir: String): StreamingQuery = {
    val writeBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      val table = new SinkTable(outBase)
      if (!table.manifests.exists(_.commitId == batchId)) {
        table.commit(batch, batchId)
      }
      ()
    }
    transform(readRaw(spark, inDir)).writeStream
      .queryName("graft-stream")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(writeBatch)
      .start()
  }

  /** Streaming exact dedup bounded by a watermark: duplicate (key) arrivals
    * within the watermark horizon are dropped, state is evicted past it —
    * the streaming analog of the batch exact-dedup family, with bounded
    * state (an unbounded dropDuplicates would grow state forever at
    * 100 TB/day ingest).
    */
  def dedupWithinWatermark(parsed: DataFrame, keyCols: Seq[String],
                           watermark: String = "30 seconds"): DataFrame =
    parsed
      .withColumn("event_ts", timestamp_micros(expr("ts_raw_ns div 1000")))
      .withWatermark("event_ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Curation gate at ingest: the stateless per-document quality signals
    * (language-ID, quality score) run unchanged inside a streaming query,
    * and the decontamination verdict joins as a STREAM-STATIC left-anti
    * join against the precomputed contaminated-id set (benchmark suites
    * change rarely — the set is a static table the stream re-broadcasts
    * per micro-batch). Repetition signals need per-doc aggregation and
    * stay on the batch path (chained aggregates are not available in
    * append-mode streams).
    *
    * `docs` is a streaming (doc_id, text, …) frame; `contaminated` a
    * static (did) frame.
    */
  def curationGate(docs: DataFrame, contaminated: DataFrame,
                   minQuality: Long): DataFrame =
    docs.select(col("doc_id").as("did"),
        graft.ops.TextOps.langIdHeuristic(col("text")).as("lang_pred"),
        graft.ops.TextOps.qualityScore(col("text")).as("quality"))
      .where(col("did") % 89 =!= 7 && col("lang_pred") === "en" &&
        col("quality") >= minQuality)
      .join(contaminated.select(col("did")), Seq("did"), "left_anti")

  /** Near-dup ingest gate — the streaming form of
    * [[graft.ops.DedupOps.lshAgainstIndex]]'s candidate probe: each
    * arriving document computes its MinHash band keys STATELESSLY (per-row
    * HOF fold over its own bounded shingle array — the one place the
    * interpreted HOF form is the right tool: work is per new document,
    * never corpus-wide) and is dropped when ANY band key hits the standing
    * corpus's band index. Pass = anti-match on every band → a chain of k/r
    * stream-static left-anti joins, all stateless, so the gate runs in
    * append mode with NO watermark state at all. Jaccard verification of
    * dropped candidates happens downstream on the batch path (d15) — the
    * ingest gate only needs the recall-1 candidate cut.
    *
    * Documents too short to shingle carry null band keys and pass (equi-
    * joins never match null — the same no-band-rows semantics as the batch
    * [[graft.ops.DedupOps.bandRows]] over [[graft.ops.DedupOps.shingleRows]]).
    * indexBands: the static (band_idx, band_key) artifact d15 probes; the
    * same call runs in batch mode, where it must equal the batch band-match
    * complement (StreamingSpec asserts it).
    */
  def nearDupGate(docs: DataFrame, indexBands: DataFrame,
                  k: Int = 16, r: Int = 4): DataFrame = {
    require(k % r == 0, "k must be divisible by r")
    import graft.ops.DedupOps
    val withSig = docs.withColumn("__t", DedupOps.shingleTokens(col("text"), 8))
    val withKeys = (0 until k / r).foldLeft(withSig) { (f, bi) =>
      val key = concat_ws("_", (0 until r).map(o =>
        DedupOps.minhash(col("__t"), bi * r + o).cast("string")): _*)
      f.withColumn(s"__bk$bi", when(size(col("__t")) > 0, key))
    }
    val gated = (0 until k / r).foldLeft(withKeys) { (f, bi) =>
      f.join(indexBands.where(col("band_idx") === bi)
        .select(col("band_key").as(s"__bk$bi")), Seq(s"__bk$bi"), "left_anti")
    }
    gated.drop("__t" +: (0 until k / r).map("__bk" + _): _*)
  }

  /** DSIR importance ingest gate — the streaming form of
    * [[graft.ops.CurationOps.dsirSelect]]'s scoring pass: each arriving
    * document folds its own hashed n-gram features against the trained
    * per-bucket weight map ([[graft.ops.CurationOps.dsirModel]], a
    * ≤ buckets-entry literal — broadcast-sized like a vocab) and passes
    * when the score clears `minScore`. Entirely STATELESS per row (the
    * interpreted HOF fold is the right tool here, as in [[nearDupGate]]:
    * work is bounded by one arriving document, never corpus-wide), so the
    * gate runs in append mode with no watermark state. Buckets unseen at
    * fit time score the smoothing-only `defaultWt`; for documents that
    * were IN the fit corpus every bucket is in the map, so gate scores
    * equal the batch dsirSelect scores exactly (StreamingSpec law). The
    * same call runs in batch mode unchanged.
    */
  def dsirGate(docs: DataFrame, weights: Map[Long, Long], defaultWt: Long,
               minScore: Long, n: Int = 8, buckets: Int = 1024): DataFrame = {
    val m = typedLit(weights)
    val score = aggregate(
      graft.functions.WindowHashes.of(col("text"), n),
      lit(0L),
      (acc, h) => acc + coalesce(element_at(m, h % lit(buckets)), lit(defaultWt)))
    docs.withColumn("dsir_score", score).where(col("dsir_score") >= minScore)
  }

  /** Streaming KMV distinct-cardinality monitor — the live dashboard form
    * of [[graft.ops.Sketches.kmvDistinct]]: per group, state is the k
    * smallest DISTINCT hash values seen so far, and folding a micro-batch
    * in is exactly the KMV union operation (Beyer et al. 2007: union =
    * merge-and-cut — the mergeability that makes KMV the set-operation
    * sketch). State is O(k) longs per group FOREVER, regardless of stream
    * length — no watermark needed, cardinality monitoring never evicts.
    * Each update emits the group's refreshed (kth, sketch fill, estimate)
    * row; the estimator is the same exact-integer (k−1)·P div kth as the
    * batch op, so a drained stream's last row per group equals the batch
    * sketch over the same rows bit-for-bit (StreamingSpec law).
    *
    * `values`: streaming (source string, v long) rows.
    */
  def kmvMonitor(values: DataFrame, k: Int): DataFrame = {
    import values.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val P = graft.ops.Sketches.P
    values.select(col("source"),
        graft.ops.Sketches.h(0, col("v").cast("long")).as("hv"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (String, Long, Int, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (src, rows, state) =>
          val merged = (state.getOption.getOrElse(Array.empty[Long]) ++
            rows.map(_._2)).distinct.sorted.take(k)
          if (merged.isEmpty) Iterator.empty
          else {
            state.update(merged)
            val nk = merged.length
            val est = if (nk < k) nk.toLong else (k - 1).toLong * P / merged.last
            Iterator((src, merged.last, nk, est))
          }
      }
      .toDF("source", "kth", "nk", "kmv_est")
  }

  /** Gap-based session aggregate in native Structured Streaming form:
    * `session_window` merges events separated by less than `gap`, the
    * watermark bounds session state (a session older than the horizon can
    * never reopen → its state is evicted and the row emitted). This is the
    * streaming analog of [[graft.ops.CurationOps.sessionize]]'s batch
    * lag+cumsum form; the same call also runs in batch mode, where the two
    * forms must agree (asserted in StreamingSpec).
    *
    * `ev` needs (user_id, event_ts timestamp, cents long).
    */
  def sessionAgg(ev: DataFrame, gap: String = "30 minutes",
                 watermark: String = "1 hour"): DataFrame =
    ev.withWatermark("event_ts", watermark)
      .groupBy(session_window(col("event_ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      .select(col("session_window.start").as("sess_start"), col("user_id"),
        col("n_events"), col("sum_cents"))

  /** Stream-stream interval join — attribution-style correlation of two
    * live feeds (e.g. document arrivals × their metadata/score feed, or
    * impression × click): inner join on the key with the right event
    * required inside [left_ts, left_ts + gapSec]. BOTH sides carry
    * watermarks and the join condition bounds event time on each side, so
    * Spark derives a state-eviction horizon — per-key buffered state is
    * bounded by (watermark + gap), never by stream length; without the
    * time bound the state store would grow forever. Inner join emits each
    * match as soon as both rows have arrived (no watermark-close wait), so
    * a drained run yields exactly the batch join of the same inputs.
    * left: (l_key, l_ts timestamp, ...); right: (r_key, r_ts timestamp,
    * ...).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, gapSec: Long,
                   watermark: String = "10 minutes"): DataFrame =
    left.withWatermark("l_ts", watermark)
      .join(right.withWatermark("r_ts", watermark),
        expr(s"l_key = r_key AND r_ts >= l_ts AND " +
          s"r_ts <= l_ts + interval $gapSec seconds"))

  /** Event-time windowed per-kind aggregate with a watermark — the streaming
    * analog of the per-run report (SURVEY.md §2.5) with late-data bounds the
    * reference never had.
    */
  def windowedCounts(parsed: DataFrame,
                     windowDur: String = "60 seconds",
                     watermark: String = "30 seconds"): DataFrame =
    parsed
      // integer division: epoch-ns values exceed double's 2^53 exact range,
      // so `/ 1000` (double division) could drift the micros by ±1
      .withColumn("event_ts", timestamp_micros(expr("ts_raw_ns div 1000")))
      .withWatermark("event_ts", watermark)
      .groupBy(window(col("event_ts"), windowDur), col("kind"))
      .agg(count(lit(1)).as("records"), sum(col("bytes")).as("sum_bytes"))
      .select(col("window.start").as("win_start"), col("kind"),
        col("records"), col("sum_bytes"))
}
