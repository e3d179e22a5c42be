package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorKernels

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (query set broadcast, corpus scanned
  * once). Scale paths, all built on one shared primitive — deterministic
  * integer projection sketches:
  *
  *  - [[sketchRerankTopK]] — compressed-scan + exact rerank: score the
  *    corpus by 32-d sketch cosine (8× less data than the 64-d f32 vectors,
  *    one compiled product chain per pair), keep the top fraction via
  *    a two-pass quantized-histogram threshold (no per-query corpus sort —
  *    per-query window state is bounded by the bucket range at any scale),
  *    re-score only those with exact cosine. The candidate fraction is
  *    1/5 ([[SketchCandDiv]]); measured recall@5 ≈ 0.89 on the synthetic
  *    corpus.
  *  - [[multiTableLshTopK]] — L independent sign-bucket tables from the same
  *    sketch bits, candidates = union over tables (the standard multi-table
  *    LSH construction; key cardinality L·2^bits, so no low-cardinality
  *    shuffle key at scale).
  *  - [[ivfTopK]] — IVF with data-derived centroids (stride-sampled corpus
  *    vectors) and nProbe>1 query fan-out.
  *
  * On THIS corpus the embeddings are isotropic (near-random: neighbor cos
  * ≈0.4 vs bulk σ=0.125, measured), so bucket-only methods (LSH/IVF) cannot
  * reach high recall at low candidate fractions — no planted cluster
  * structure exists to exploit. The sketch-rerank path does not depend on
  * cluster structure (its recall follows the Johnson–Lindenstrauss noise
  * bound) and is the one that meets recall ≥ 0.8 at ≤ 20% candidates;
  * AnnRecallSpec measures all three against the brute-force baseline.
  *
  * Determinism across engines: sketches and centroid assignments are pure
  * int64 arithmetic over round(x·1e6) microunits — order-independent sums,
  * so DuckDB reproduces them bit-exactly; doubles appear only in final
  * ratios computed in identical expression order on both sides.
  *
  * The per-row vector work — the projection sketch, the dot fold and the
  * sketch product chains — runs in [[VectorKernels]]' compiled loops,
  * each bit-identical to the Catalyst form (and SQL twin) it replaced.
  * Embeddings become `array<double>` by a cast, not a `transform`, so
  * these plans carry no higher-order function.
  */
object Ann {

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Sequential-fold dot product (left-to-right from 0.0, IEEE double →
    * oracle-exact); null on a null array, a null element or unequal
    * lengths. One compiled loop ([[VectorKernels.dot]]).
    */
  def dot(a: Column, b: Column): Column = VectorKernels.dot(a, b)

  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b))), 6)

  /** Salt buckets per group in [[saltedTopK]]'s first level. */
  private val TopKSalts = 32

  /** Scale-safe per-group top-k: the rows of `df` ranked by `order` within
    * each `group`, rank ≤ k kept, with a `rank` column. A direct
    * `Window.partitionBy(group)` rank sorts ALL of a group's rows in one
    * task — at 100× data that is a single-task corpus sort per query or
    * per source. Two-level instead: rank within (group, pmod(hash(saltBy),
    * [[TopKSalts]])) partitions first (any group-wide top-k row is
    * necessarily in its salt bucket's local top-k), keep k, then rank the
    * ≤ TopKSalts·k survivors per group. Output is identical to the direct
    * group-wide rank (same order, same tie-break); the final window holds
    * at most TopKSalts·k rows per group regardless of input size. Same
    * partial-top-k-then-merge shape as e02/k03's TakeOrderedAndProject,
    * expressed per group. The salt only splits the work, so `saltBy` may be
    * any column of the row.
    */
  private[ops] def saltedTopK(df: DataFrame, group: Column, saltBy: Column,
                              order: Seq[Column], k: Int): DataFrame = {
    val wLocal = Window.partitionBy(group, pmod(hash(saltBy), lit(TopKSalts))).orderBy(order: _*)
    val pruned = df.withColumn("__lr", row_number().over(wLocal))
      .where(col("__lr") <= k).drop("__lr")
    val w = Window.partitionBy(group).orderBy(order: _*)
    pruned.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Per-query top-k over (q_id, c_id, cos) rows: [[saltedTopK]] by
    * (cos desc, c_id), salted by c_id.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    saltedTopK(scored, col("q_id"), col("c_id"), Seq(col("cos").desc, col("c_id")), k)
      .select("q_id", "c_id", "cos", "rank")

  /** Q×N scored pairs (q_id, c_id, cos): every query vector against every
    * other corpus vector (the query side is tiny and broadcasts). Each
    * vector's norm is folded once per side, not once per pair — the same
    * `round(dot / (sqrt(dot(q,q)) · sqrt(dot(c,c))), 6)` tree as [[cosine]],
    * so the values are bit-identical. With `kProj > 0` the frame also
    * carries the sketch score `ski` = floor(sketch cosine · 1e6) and
    * `has_sk`, false where either side has no sketch (a null or empty
    * embedding, which every sketch frame drops).
    */
  private def scoredPairs(emb: DataFrame, queryFilter: Column, kProj: Int = 0): DataFrame = {
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val base = v.withColumn("n", sqrt(dot(col("v"), col("v"))))
    val vs = if (kProj == 0) base
      else base.withColumn("sk", VectorKernels.sketch(col("v"), kProj))
        .withColumn("skn", sketchNorm(col("sk")))
    def side(df: DataFrame, id: String, p: String): DataFrame = df.select(
      col("vec_id").as(id) +: df.columns.toSeq.filter(_ != "vec_id").map(c => col(c).as(p + c)): _*)
    val pairs = side(vs.where(queryFilter), "q_id", "q")
      .join(side(vs, "c_id", "c"), col("c_id") =!= col("q_id"))
    val cos = round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("cos")
    if (kProj == 0) pairs.select(col("q_id"), col("c_id"), cos)
    else pairs.select(col("q_id"), col("c_id"), cos,
      sketchScore(col("qsk"), col("qskn"), col("csk"), col("cskn")).as("ski"),
      (col("qsk").isNotNull && col("csk").isNotNull).as("has_sk"))
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself). Deterministic tie-break on (cos desc, id).
    */
  def bruteForceTopK(emb: DataFrame, queryFilter: Column, k: Int): DataFrame =
    topKPerQuery(scoredPairs(emb, queryFilter), k)

  /** The a01 exact top-k and the a04 sketch-rerank top-k of the same
    * queries, both from ONE checkpointed Q×N frame carrying the exact
    * `cos` and the sketch `ski` ([[scoredPairs]]): the exact arm ranks it
    * directly, the sketch arm applies [[candidateCut]] and takes its
    * candidates' `cos` from the same rows — no second pair build, no
    * embedding re-join for the rerank. Row for row equal to
    * `(bruteForceTopK, sketchRerankTopK)`.
    */
  def exactAndSketchTopK(emb: DataFrame, queryFilter: Column, k: Int): (DataFrame, DataFrame) = {
    val scored = scoredPairs(emb, queryFilter, SketchKProj).localCheckpoint(true)
    val exact = topKPerQuery(scored.select("q_id", "c_id", "cos"), k)
    val apx = topKPerQuery(
      candidateCut(scored.where(col("has_sk")), "ski", SketchCandDiv, descending = true)
        .select("q_id", "c_id", "cos"), k)
    (exact, apx)
  }

  /** Semi-hard negative mining (FaceNet, Schroff et al. 2015 §3.2): per
    * anchor, the top-k most-similar negatives INSIDE the semi-hard band —
    * less similar than the positive but by no more than the margin
    * (pos_cos − margin ≤ neg_cos < pos_cos). Random negatives (i04) are
    * mostly too easy to produce gradient; semi-hard ones train a metric
    * embedding without collapsing it. The positive is the brute-force
    * top-1. Band compares run on int64 e6 microunits of the 6-dp-rounded
    * cosine — the established cross-engine float contract.
    *
    * Shape at scale: the Q×N scored frame materializes ONCE
    * (localCheckpoint — it feeds both the positive top-1 and the band
    * filter; unmaterialized it would score the corpus twice, the a04
    * lesson), the |Q|-row positive side re-joins by broadcast, and both
    * rank passes use the salted two-level top-k — no single-task corpus
    * sort per query at any corpus size.
    */
  def semiHardNegatives(emb: DataFrame, queryFilter: Column, k: Int,
                        marginE6: Long): DataFrame = {
    val scored = scoredPairs(emb, queryFilter)
      .select(col("q_id"), col("c_id"), round(col("cos") * 1e6).cast("long").as("cos"))
      .localCheckpoint(true)
    val pos = topKPerQuery(scored, 1)
      .select(col("q_id"), col("c_id").as("pos_id"), col("cos").as("pos_cos"))
    val band = scored.join(broadcast(pos), "q_id")
      .where(col("c_id") =!= col("pos_id") &&
        col("cos") < col("pos_cos") && col("cos") >= col("pos_cos") - lit(marginE6))
    topKPerQuery(band.select("q_id", "c_id", "cos"), k)
      .join(broadcast(pos), "q_id")
      .select(col("q_id").as("anchor"), col("pos_id"),
        col("pos_cos").as("pos_cos_e6"), col("c_id").as("neg_id"),
        col("cos").as("neg_cos_e6"), col("rank"))
  }

  /** Projection weight for sketch row t (0-based), component i0 (1-based):
    * an LCG with a per-row multiplier so rows are decorrelated (a shared
    * multiplier makes every row the same sequence shifted — measured recall
    * collapse). Values in [-3, 3]; pure int64, identical in SQL and in the
    * [[VectorKernels.sketch]] loop.
    */
  def projWeight(t: Int, i0: Column): Column =
    (i0 * lit((2L * t + 3L) * 2654435761L) + lit((t + 1L) * 1013904223L)) % 1000003L % 7L - 3L

  /** SQL twin of [[projWeight]] for a 1-based component expression. */
  def projWeightSql(t: Int, i0: String): String =
    s"(($i0 * ${(2L * t + 3L) * 2654435761L} + ${(t + 1L) * 1013904223L}) % 1000003 % 7 - 3)"

  /** Integer projection sketches as ONE column: `(vec_id, sk)`, where `sk`
    * is an `array<bigint>` of kProj slots Σ_i floor(x_i·1e6 + 0.5)·
    * projWeight(t, i) ([[VectorKernels.sketch]]) — a map-only projection,
    * computed per row, no shuffle. This is the 100 TB shape: the sketch
    * table is the small scan-side artifact.
    *
    * Rows whose embedding is null or empty have no sketch and drop out; a
    * row whose elements are all null keeps kProj null slots. `vec_id` must
    * be unique per row: the sketch is per row, like the SQL twin `SkCte`
    * (a duplicate id yields two sketch rows, not one summed sketch).
    */
  def sketchFrame(emb: DataFrame, kProj: Int): DataFrame =
    emb.select(col("vec_id"), VectorKernels.sketch(col("embedding"), kProj).as("sk"))
      .where(col("sk").isNotNull)

  /** The sketch frame in column form, s0..s{kProj-1}, for the callers
    * that read individual slots (LSH sign buckets, Hamming codes, the IVF
    * int64 cell scores).
    */
  def sketches(emb: DataFrame, kProj: Int): DataFrame =
    slots(sketchFrame(emb, kProj), "vec_id", "sk", "s", kProj)

  /** `id` plus the array column `arr` spread into columns prefix0..prefix{n-1}. */
  private def slots(df: DataFrame, id: String, arr: String, prefix: String, n: Int): DataFrame =
    df.select(col(id) +: (0 until n).map(t => col(arr).getItem(t).as(s"$prefix$t")): _*)

  /** sqrt of a sketch's self product chain — its norm, folded once per vector. */
  private[graft] def sketchNorm(sk: Column): Column = sqrt(VectorKernels.sketchDot(sk, sk))

  /** floor(sketch cosine · 1e6): the product chain over the norms, in the
    * SQL twin's `(d) / (sqrt(nq) * sqrt(nc))` order.
    */
  private[graft] def sketchScore(qsk: Column, qn: Column, csk: Column, cn: Column): Column =
    floor(VectorKernels.sketchDot(qsk, csk) / (qn * cn) * lit(1e6)).cast("long")

  /** Q×N sketch scores (q_id, c_id, ski) over a sketch frame. */
  private def sketchPairs(sk: DataFrame, queryFilter: Column): DataFrame = {
    def side(df: DataFrame, id: String, p: String): DataFrame =
      df.select(col("vec_id").as(id), col("sk").as(s"${p}sk"), sketchNorm(col("sk")).as(s"${p}n"))
    side(sk.where(queryFilter), "q_id", "q")
      .join(side(sk, "c_id", "c"), col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        sketchScore(col("qsk"), col("qn"), col("csk"), col("cn")).as("ski"))
  }

  /** The per-query candidate cut over scored rows (q_id, `key`, …): the
    * best ceil(cnt/den) rows of each query by the integer `key` — the
    * largest keys when `descending`, else the smallest — plus every row
    * tied with the threshold key, all columns kept. Ties are all kept
    * (candidates may slightly exceed cnt/den — recall can only improve,
    * and both engines keep the identical set, so the oracle stays exact).
    *
    * The cut is derived WITHOUT ranking the corpus per query (a
    * `Window.partitionBy(q_id)` rank over the Q×N scored rows would sort
    * the whole corpus in one task per query): pass 1 builds a per-(q_id,
    * key) histogram — a map-side-combined aggregate whose per-query size is
    * bounded by the key's value range REGARDLESS of corpus size — and the
    * threshold key (the first at which the cumulative count in cut order
    * reaches ceil(cnt/den), integer (cnt+den−1) div den in both engines)
    * falls out of a window over that bounded histogram. Pass 2 re-scans the
    * scored rows and keeps the keys up to the threshold. Both passes read
    * `scored`, so the caller materializes it once. SQL twin: [[cutSql]].
    *
    * Callers: the a04/i09 sketch cut (floor(sketch cosine·1e6), descending,
    * ≤ 2·1e6+1 buckets), the a05 Hamming cut (ascending, ≤ bits+1 values)
    * and the a06/a07 ADC cut (bucketed distance, ascending).
    */
  private[graft] def candidateCut(scored: DataFrame, key: String, den: Int,
                                  descending: Boolean): DataFrame = {
    val k = col(key)
    val hist = scored.groupBy("q_id", key).agg(count(lit(1)).as("n"))
    val wCum = Window.partitionBy(col("q_id")).orderBy(if (descending) k.desc else k)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = hist
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("cnt", sum(col("n")).over(Window.partitionBy(col("q_id"))))
      .where(col("cum") >= expr(s"(cnt + ${den - 1}) div $den"))
      .groupBy("q_id").agg((if (descending) max(k) else min(k)).as("thr"))
    scored.join(thr, "q_id")
      .where(if (descending) k >= col("thr") else k <= col("thr")).drop("thr")
  }

  /** SQL twin of [[candidateCut]]'s threshold: the `thr(q_id, thr)` CTE over
    * the scored relation `from`. The oracles spell the descending form's
    * first line apart from the ascending one's; the builder keeps each.
    */
  private[graft] def cutSql(from: String, key: String, den: Int, descending: Boolean): String = {
    val (open, agg, dir) = if (descending) ("\n  ", "max", " DESC") else ("", "min", "")
    s"thr AS ($open" +
      s"""SELECT q_id, $agg($key) AS thr FROM (
         |    SELECT q_id, $key,
         |      sum(n) OVER (PARTITION BY q_id ORDER BY $key$dir
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |      sum(n) OVER (PARTITION BY q_id) AS cnt
         |    FROM (SELECT q_id, $key, count(*) AS n FROM $from GROUP BY 1, 2))
         |  WHERE cum >= (cnt + ${den - 1}) // $den GROUP BY q_id)""".stripMargin
  }

  /** Width of the shared integer projection sketch: the sketch-rerank
    * scan, the sketch top-k, k-means and the IVF cells all score in this
    * 32-d space.
    */
  private val SketchKProj = 32

  /** Candidate divisor of the sketch-rerank path: a fifth of the corpus
    * per query.
    */
  private val SketchCandDiv = 5

  /** Compressed-scan + exact-rerank top-k: keep every candidate whose
    * sketch cosine clears the per-query cut ([[candidateCut]]), exact-cosine
    * only those.
    */
  def sketchRerankTopK(emb: DataFrame, queryFilter: Column, k: Int): DataFrame = {
    // materialized once: the Q×N sketch-score join feeds BOTH the histogram
    // pass and the threshold re-scan — without this the dominant join runs
    // twice per query batch (at cluster scale: persist to the shuffle
    // service / a scratch table instead of local disk)
    val scored = sketchPairs(sketchFrame(emb, SketchKProj), queryFilter).localCheckpoint(true)
    val cand = candidateCut(scored, "ski", SketchCandDiv, descending = true)
    rerankExact(emb, cand.select("q_id", "c_id"), k)
  }

  /** Exact-cosine rerank of (q_id, c_id) candidate pairs → top-k per query
    * (two-level salted rank — see [[topKPerQuery]]).
    */
  def rerankExact(emb: DataFrame, pairs: DataFrame, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val scored = pairs
      .join(e.select(col("vec_id").as("q_id"), col("v").as("qv")), "q_id")
      .join(e.select(col("vec_id").as("c_id"), col("v").as("cv")), "c_id")
      .withColumn("cos", cosine(col("qv"), col("cv")))
    topKPerQuery(scored.select("q_id", "c_id", "cos"), k)
  }

  /** Multi-table multi-probe LSH: table t's bucket = sign bits of sketch
    * rows t·bits..t·bits+bits-1; candidates = union over tables, deduped.
    * Key cardinality is tables·2^bits — sized so no single join key funnels
    * the corpus at scale.
    *
    * Multi-probe (Lv et al., VLDB 2007): each QUERY additionally probes
    * every bucket within Hamming distance `probeRadius` of its own — the
    * corpus side still emits one bucket per table, so the index size and
    * the shuffle-key cardinality are unchanged; only the query fan-out
    * grows (Σ_{d≤r} C(bits,d) probe rows per query per table — 37 at
    * bits=8, r=2). On an isotropic corpus where a neighbor bit agrees with
    * probability p ≈ 0.6–0.65, radius 2 lifts the per-table hit rate from
    * p^8 ≈ 0.03 to Σ_{d≤2} C(8,d)·p^(8-d)·(1-p)^d ≈ 0.35 — measured
    * recall@5 0.07 → ≥0.8 over 4 tables (AnnRecallSpec) at a candidate
    * fraction that still vanishes as 2^bits is sized up with the corpus.
    */
  def multiTableLshTopK(emb: DataFrame, queryFilter: Column, k: Int,
                        probeRadius: Int = 2): DataFrame = {
    val (tables, bits) = (LshTables, LshBits)
    val sk = sketches(emb, tables * bits)
    def bucket(t: Int): Column = Sketches.signBits((0 until bits).map(j => col(s"s${t * bits + j}")))
    val tb = sk.select(col("vec_id"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"), bucket(t).as("bkt"))): _*)).as("b"))
      .select(col("vec_id"), col("b.tbl").as("tbl"), col("b.bkt").as("bkt"))
    val qIds = emb.where(queryFilter).select(col("vec_id").as("q_id"))
    val masks = (0 until (1 << bits)).filter(m => Integer.bitCount(m) <= probeRadius)
    val qb = tb.join(qIds, tb("vec_id") === qIds("q_id"))
      .select(col("q_id"), col("tbl"),
        explode(array(masks.map(m => col("bkt").bitwiseXOR(lit(m.toLong))): _*)).as("bkt"))
    val pairs = qb.join(tb, Seq("tbl", "bkt"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id")).distinct()
    rerankExact(emb, pairs, k)
  }

  /** LSH tables and sign bits per table of [[multiTableLshTopK]]. */
  private val LshTables = 4
  private val LshBits = 8

  /** Binary sign-code + Hamming rerank — the memory-optimal scale path:
    * each vector compresses to ONE long of sign bits from the shared
    * integer projections (8 bytes vs 256 bytes of f32 — 32×), the corpus
    * scan is `bit_count(xor)` per pair (a single fused instruction per
    * word on real hardware; flat codegen here), and per-query candidate
    * selection needs NO sort at all: Hamming over `bits` bits takes only
    * bits+1 distinct values, so the per-query threshold histogram is ≤ 33
    * rows at ANY corpus size — the a04 bounded-histogram construction in
    * its smallest possible form. Top num/den fraction by Hamming asc →
    * exact-cosine rerank top-k. Recall sits between the bucket paths and
    * a04's int-sketch scan (the 1-bit quantization loses magnitude
    * information; AnnRecallSpec measures it) — the trade is 32× less scan
    * I/O than exact and 32× less than the int sketch.
    */
  def hammingRerankTopK(emb: DataFrame, queryFilter: Column, k: Int): DataFrame = {
    val (bits, den) = (HammingBits, HammingDen)
    val sk = sketches(emb, bits)
    val codes = sk.select(col("vec_id"),
      Sketches.signBits((0 until bits).map(j => col(s"s$j"))).as("code"))
    val q = codes.join(emb.where(queryFilter).select(col("vec_id")), "vec_id")
      .select(col("vec_id").as("q_id"), col("code").as("qc"))
    // the Hamming scan feeds BOTH the threshold histogram and the candidate
    // join — materialize once or the sketch+code pipeline executes twice
    val scored = codes.select(col("vec_id").as("c_id"), col("code").as("cc"))
      .join(broadcast(q), col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        bit_count(col("cc").bitwiseXOR(col("qc"))).as("ham"))
      .localCheckpoint(true)
    val cand = candidateCut(scored, "ham", den, descending = false).select("q_id", "c_id")
    rerankExact(emb, cand, k)
  }

  /** Code bits and candidate divisor of [[hammingRerankTopK]]. */
  private val HammingBits = 32
  private val HammingDen = 5

  /** Product-quantization ANN (Jégou et al. 2011): the 64-d vector splits
    * into m contiguous subspaces; each sub-vector is coded as its nearest
    * of kCent codebook entries, so the scanned index is m small codes per
    * vector (m=8, kCent=16 → 8 nibbles — 4 bytes, vs 256 for the floats).
    * Queries scan by ADC (asymmetric distance): a per-query m×kCent table
    * of exact sub-vector distances to every codebook entry, candidate
    * distance = Σ_s table[s][code_s] — a broadcast join on (subspace,
    * code) whose build side is ≤ Q·m·kCent rows, then the top 1/den
    * fraction reranks by exact cosine.
    *
    * Codebooks are the kCent smallest-hash-draw corpus vectors' sub-vectors
    * (the seeded-sample convention of a03/i03, reproducible in any engine;
    * at real scale train them with the i03 Lloyd loop — the scan is
    * unchanged). Everything before the rerank is exact int64 over
    * floor(x·1e6+0.5) microunits, and each per-subspace argmin is a MIN
    * over the composite key dist·100+cid, so assignment ties break on cid
    * identically in both engines — no argmin/min_by semantics to match.
    *
    * Shape at 100 TB: encode and the distance table are broadcast cross
    * joins against the kCent-row codebook; the ADC scan reads only the
    * codes column and fans by queries; and the candidate cut is the a04
    * bounded-histogram construction over adist div bucket — the bucket
    * count is bounded by the VALUE RANGE (m·subDims·maxDiff²/bucket),
    * never by the corpus, so no per-query corpus-fraction sort exists
    * anywhere in the plan.
    */
  def pqTopK(emb: DataFrame, queryFilter: Column, k: Int): DataFrame = {
    val (codesLong, dt) = pqCodesAndTable(emb, queryFilter)
    val adist = codesLong.join(broadcast(dt),
        codesLong("s") === dt("s") && codesLong("code") === dt("cid"))
      .where(col("c_id") =!= col("q_id"))
      .groupBy("q_id", "c_id").agg(sum("qd").as("adist"))
    rerankExact(emb, bucketCutCandidates(adist, PqDen), k)
  }

  /** PQ shape: m subspaces of the dims-d vector, kCent codebook entries
    * each, ADC distances bucketed by PqBucket, and the candidate divisors
    * of [[pqTopK]] and [[ivfPqTopK]].
    */
  private val PqM = 8
  private val PqKCent = 16
  private val PqDims = 64
  private val PqBucket = 100000000L
  private val PqDen = 5
  private val IvfPqDen = 2
  require(PqDims % PqM == 0, "subspaces must tile the vector")

  /** The PQ index artifacts shared by [[pqTopK]] and [[ivfPqTopK]]: the
    * per-vector code rows in long form (c_id, s, code) and the per-query
    * ADC distance table (q_id, s, cid, qd) — ≤ Q·m·kCent rows, always the
    * broadcast side. Exact int64 microunit arithmetic throughout; argmin
    * ties break on cid via the min(dist·100+cid) composite.
    */
  private def pqCodesAndTable(emb: DataFrame, queryFilter: Column): (DataFrame, DataFrame) = {
    val (m, kCent, dims) = (PqM, PqKCent, PqDims)
    val sub = dims / m
    val e6cols = (1 to dims).map(d =>
      floor(element_at(col("embedding"), d).cast("double") * 1e6 + lit(0.5))
        .cast("long").as(s"x$d"))
    val base = emb.select(col("vec_id") +: e6cols: _*).localCheckpoint(true)
    val wSeed = Window.orderBy(col("__d"), col("vec_id")) // kCent rows only
    val cents = base.withColumn("__d", Sketches.draw(col("vec_id")))
      .orderBy(col("__d"), col("vec_id")).limit(kCent)
      .withColumn("cid", row_number().over(wSeed))
      .select(col("cid") +: (1 to dims).map(d => col(s"x$d").as(s"c$d")): _*)
    def distS(s: Int): Column = (1 to sub).map { d0 =>
      val d = s * sub + d0
      val diff = col(s"x$d") - col(s"c$d"); diff * diff
    }.reduce(_ + _)
    // encode: one map-side-combined aggregate, all m argmins in one pass
    val codeAggs = (0 until m).map(s => min(distS(s) * 100L + col("cid")).as(s"k$s"))
    val codes = base.crossJoin(broadcast(cents))
      .groupBy("vec_id").agg(codeAggs.head, codeAggs.tail: _*)
      .select(col("vec_id").as("c_id") +:
        (0 until m).map(s => (col(s"k$s") % 100).cast("int").as(s"code$s")): _*)
    // per-query ADC table, long form (q_id, s, cid, qd) — ≤ Q·m·kCent rows
    val dt = base.join(emb.where(queryFilter).select(col("vec_id")), "vec_id")
      .crossJoin(broadcast(cents))
      .select(col("vec_id").as("q_id"), col("cid"),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("s"), distS(s).as("qd"))): _*)).as("e"))
      .select(col("q_id"), col("e.s").as("s"), col("cid"), col("e.qd").as("qd"))
    val codesLong = codes.select(col("c_id"),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("s"), col(s"code$s").as("code"))): _*)).as("e"))
      .select(col("c_id"), col("e.s").as("s"), col("e.code").as("code"))
    (codesLong, dt)
  }

  /** The ADC candidate cut: the top 1/den fraction by bucketed distance
    * asc ([[candidateCut]]). Bucket count is bounded by the value range,
    * never the corpus.
    */
  private def bucketCutCandidates(adist: DataFrame, den: Int): DataFrame = {
    // the ADC frame feeds BOTH the histogram and the candidate join —
    // unmaterialized, its whole upstream (code join + coarse stage in the
    // IVF-PQ case) would execute twice (the a04/t08 branch-recompute trap)
    val b = adist.withColumn("bk", expr(s"adist div $PqBucket")).localCheckpoint(true)
    candidateCut(b, "bk", den, descending = false).select("q_id", "c_id")
  }

  /** Lloyd k-means in sketch space — the clustering stage of semantic
    * dedup (SemDeDup: cluster embeddings, then prune near-identical
    * members within each cluster) and of a trained-IVF index build.
    *
    * Cross-engine-exact by construction: centroids are SUMS, not means —
    * ranking by dot(v, Σc)/|Σc| equals ranking by dot(v, Σc/n)/|Σc/n|
    * (the member count cancels), so no division ever happens and every
    * centroid component stays an exact int64. Scores are left-to-right
    * double product folds ([[VectorKernels.sketchDot]]) equal to the SQL
    * twin's chains (products exceed 2^53, but IEEE rounding is
    * deterministic and both engines add in the same order). Init = the same
    * stride-sampled corpus rows as [[ivfTopK]]; iterations unroll into the
    * oracle as one CTE pair each.
    *
    * Per iteration: each sketch finds its nearest centroid in one per-row
    * kernel ([[VectorKernels.nearestCentroid]]) against the ≤ k-row model
    * ([[kmModel]]), carried into the plan as a literal; then one
    * map-side-combined sum aggregate by cid and a bounded collect build the
    * next model — no cross join, no per-vector argmax shuffle, no
    * driver-side state beyond the model; empty clusters drop from the
    * centroid table identically in both engines. The kernel's winner is the
    * oracle's row_number() ORDER BY score DESC, cid: the score d/cn desc,
    * then the SMALLEST cid. A corpus with no seed vector (vec_id ≡ 7 mod
    * 13) has an empty model, and every vector gets a null cluster.
    *
    * Model rows are `(cid, c array<bigint>, cn)`; the sketch frame is
    * [[sketchCheckpoint]].
    */
  private def sketchCheckpoint(emb: DataFrame): DataFrame =
    // materialized once: every assignment pass re-reads it
    sketchFrame(emb, SketchKProj).localCheckpoint(true)

  /** A bounded MODEL ARTIFACT rebuilt as a local relation: collect the
    * trained rows and re-create them as a literal frame. Same legitimacy
    * class as the collected DSIR model (a bounded trained artifact, never
    * corpus-sized); vs localCheckpoint it truncates the per-iteration
    * lineage without a checkpoint job, and every later broadcast build is
    * a LocalTableScan instead of replaying a query stage. The collect
    * reads at most `maxRows + 1` rows and fails if the model has more than
    * `maxRows`, so a broad input fails loudly instead of pulling a
    * corpus-sized frame into the driver.
    */
  def localModel(df: DataFrame, maxRows: Int): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(modelRows(df, maxRows): _*), df.schema)

  /** The rows of a bounded model frame — [[localModel]]'s collect. */
  private def modelRows(df: DataFrame, maxRows: Int): Array[Row] = {
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"localModel: the model frame has more than maxRows = $maxRows rows; " +
        "it is collected to the driver, so it must stay model-sized")
    rows
  }

  /** The stride-sampled seed model (cid, c): the first `n` vectors with
    * vec_id ≡ 7 mod 13, shared by the k-means init and the IVF cells.
    */
  private def seedFrame(sk: DataFrame, n: Int): DataFrame =
    sk.where(col("vec_id") % 13 === 7).orderBy(col("vec_id")).limit(n)
      .select(col("vec_id").as("cid"), col("sk").as("c"))

  /** [[seedFrame]] as a local relation, for the IVF cells. */
  private def seedCents(sk: DataFrame, n: Int): DataFrame = localModel(seedFrame(sk, n), n)

  /** k-means cluster count and Lloyd rounds. */
  private val KmK = 16
  private val KmIters = 2

  /** The trained sum-centroids after [[KmIters]] Lloyd rounds as ≤ [[KmK]]
    * model rows `(cid, c, cn)`, each with its norm — shared by
    * [[kmeansSketch]] and the i12 quality report.
    */
  private def kmModel(sk: DataFrame): Seq[Row] = {
    val (k, kProj) = (KmK, SketchKProj)
    def withNorms(cents: DataFrame): Seq[Row] =
      modelRows(cents.select(col("cid"), col("c"), sketchNorm(col("c")).as("cn")), k).toSeq
    // every round's model enters its plan as a literal of the same type,
    // so all rounds generate the same code and the generated-class cache
    // compiles one round and reuses it for the rest
    var model = withNorms(seedFrame(sk, k))
    val sums = (0 until kProj).map(t => sum(col("sk").getItem(t)).as(s"c$t"))
    for (_ <- 1 to KmIters if model.nonEmpty) {
      val cid = VectorKernels.nearestCentroid(col("sk"), model).getField("cid")
      model = withNorms(sk.select(cid.as("cid"), col("sk"))
        .groupBy("cid").agg(sums.head, sums.tail: _*)
        .select(col("cid"), array((0 until kProj).map(t => col(s"c$t")): _*).as("c")))
    }
    model
  }

  def kmeansSketch(emb: DataFrame): DataFrame = {
    val sk = sketchCheckpoint(emb)
    val win = VectorKernels.nearestCentroid(col("sk"), kmModel(sk))
    sk.select(col("vec_id"), win.getField("cid").as("cluster"))
  }

  /** Cluster-quality audit of the [[kmeansSketch]] partition — the report
    * a pipeline reads before trusting a semantic-dedup or IVF index built
    * on these clusters (the k-means sibling of the i11 cell-balance
    * report): per cluster, member count, COHESION = mean member→centroid
    * cosine, and SEPARATION = the centroid's nearest-other-centroid
    * cosine (a Davies-Bouldin-flavored pair; cohesion high + separation
    * low = a well-separated cluster). Cosines against the SUM centroid
    * equal cosines against the mean (scale cancels); per-member values
    * floor to e6 microunits before the order-independent integer mean —
    * the sign-safe floor-mean identity (se + n·1e6) div n − 1e6 keeps
    * both engines exact for any sign.
    *
    * Shape at scale: one per-row assignment pass against the ≤ k-row model
    * literal, one map-side-combined rollup by cluster, and a ≤k×k centroid
    * self-join — output k rows at any corpus size.
    */
  def kmeansQuality(emb: DataFrame): DataFrame = {
    val sk = sketchCheckpoint(emb)
    val model = kmModel(sk)
    // ONE fused pass computes the final assignment AND the member→centroid
    // cosine, from the same product fold the winning score divides
    val win = sk.select(VectorKernels.nearestCentroid(col("sk"), model).as("w"),
        sketchNorm(col("sk")).as("skn"))
      .select(col("w.cid").as("cid"),
        floor(col("w.d") / (col("skn") * col("w.cn")) * 1e6).cast("long").as("ce6"))
    val per = win
      .groupBy("cid").agg(count(lit(1)).as("n"), sum(col("ce6")).as("se"))
      .select(col("cid").as("cluster"), col("n"),
        expr("(se + n * 1000000) div n - 1000000").as("mean_cos_e6"))
    val cn = sk.sparkSession.createDataFrame(java.util.Arrays.asList(model: _*),
      VectorKernels.CentroidModel)
    val c2 = cn.select(col("cid").as("cid2"), col("c").as("c2"), col("cn").as("cn2"))
    val nn = cn.crossJoin(broadcast(c2)).where(col("cid") =!= col("cid2"))
      .withColumn("ce6",
        floor(VectorKernels.sketchDot(col("c"), col("c2")) / (col("cn") * col("cn2")) * 1e6)
          .cast("long"))
      .groupBy("cid").agg(max(col("ce6")).as("nn_cent_cos_e6"))
    per.join(nn, per("cluster") === nn("cid")).drop("cid")
  }

  /** IVF with data-derived centroids, assignment in SKETCH space: centroids
    * are stride-sampled corpus vectors (vec_id ≡ 7 mod 13, first nCells by
    * id — a seeded sample that any engine reproduces), and both corpus and
    * centroids are represented by their shared 32-d integer sketches (the
    * same persisted artifact a04 scans — coarse quantization in the
    * projected space, the standard IVF-on-reduced-dim construction).
    * Corpus vectors live in their best cell, queries probe their top nProbe
    * cells; the final rerank is exact full-dim cosine. The assignment is a
    * broadcast cross join with a flat 32-term int64 chain per row —
    * whole-stage codegen, no explode, ~2.5× less arithmetic than full-dim
    * microunit assignment (measured 3.5 → ~1.5 s at sf0.1).
    *
    * Cell count must scale with the corpus: the candidate stage equi-joins
    * on `cid`, so nCells IS the shuffle-key cardinality — a handful of
    * cells funnels the corpus through a handful of reducers. [[IvfCells]]
    * is 256 (≈√N at the bench scale; at real scale pick 1024–4096), with
    * nProbe sized to hold the candidate fraction ≈ nProbe/nCells at the
    * target recall/cost point.
    */
  def ivfTopK(emb: DataFrame, queryFilter: Column, k: Int, nProbe: Int): DataFrame =
    rerankExact(emb, ivfPairs(emb, queryFilter, nProbe), k)

  /** IVF coarse cell count, and the cells [[ivfPqTopK]] probes per query. */
  private val IvfCells = 256
  private val IvfPqProbe = 64

  /** The shared IVF coarse artifacts, in column form for the int64 cell
    * scores: the checkpointed sketch frame and the nCells stride-sampled
    * sketch-space centroids (a ≤ nCells-row local model, evaluated once
    * instead of once per broadcast build).
    */
  private def ivfBase(emb: DataFrame): (DataFrame, DataFrame) = {
    val sk = sketchCheckpoint(emb)
    (slots(sk, "vec_id", "sk", "s", SketchKProj),
      slots(seedCents(sk, IvfCells), "cid", "c", "c", SketchKProj))
  }

  /** per (vector, centroid) int64 sketch dot; within a vector the rank by
    * dot/sqrt(cnorm) equals the sketch-cosine order (the vector's own norm
    * is a positive constant across its partition). |s_t| ≤ ~2e8 so the
    * 32-term product sum stays well inside int64 — exact in both engines.
    */
  private def cellScores(sk: DataFrame, cents: DataFrame): DataFrame = {
    val dotChain = (0 until SketchKProj).map(t => col(s"s$t") * col(s"c$t")).reduce(_ + _)
    val cnormChain = (0 until SketchKProj).map(t => col(s"c$t") * col(s"c$t")).reduce(_ + _)
    sk.crossJoin(broadcast(cents))
      .withColumn("score", dotChain.cast("double") / sqrt(cnormChain.cast("double")))
      .select("vec_id", "cid", "score")
  }

  /** Corpus cell assignment (nearest coarse centroid per vector) — the
    * index-build artifact the i11 balance report audits. The per-vector
    * argmax is a map-side-combined aggregate, max(struct(score, -cid)):
    * score desc, then the smallest cid, the old rank-1 window's winner
    * ((score, -cid) is a total order per vector, cid being unique). The
    * N×nCells scored frame is never sorted, and only its N per-vector
    * partial rows exchange.
    */
  def ivfAssignment(emb: DataFrame): DataFrame = {
    val (sk, cents) = ivfBase(emb)
    bestCellAgg(cellScores(sk, cents))
  }

  private def bestCellAgg(scores: DataFrame): DataFrame =
    scores.groupBy("vec_id")
      .agg(max(struct(col("score"), (-col("cid")).as("nc"))).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as("cid"))

  /** The distinct (q_id, c_id) candidate pairs where the corpus vector's
    * best cell is among the query's nProbe probed cells — shared by
    * [[ivfTopK]] and [[ivfPqTopK]] (see [[ivfTopK]]'s scaladoc for the
    * shuffle-key and exactness analysis).
    */
  private def ivfPairs(emb: DataFrame, queryFilter: Column, nProbe: Int): DataFrame = {
    val (sk, cents) = ivfBase(emb)
    // corpus best cell: aggregate argmax over the checkpointed sk — one
    // map-side-combined pass (the window form sorted all N×nCells rows); the
    // query probe list re-scores ONLY the query vectors (|Q|×nCells rows),
    // so its bounded rank window costs nothing at any corpus size
    val corpusCell = bestCellAgg(cellScores(sk, cents))
      .select(col("vec_id").as("c_id"), col("cid"))
    val qIds = emb.where(queryFilter).select(col("vec_id").as("q_id"))
    val qSk = sk.join(qIds, sk("vec_id") === qIds("q_id")).drop("q_id")
    val wC = Window.partitionBy(col("vec_id")).orderBy(col("score").desc, col("cid"))
    val queryCells = cellScores(qSk, cents)
      .withColumn("cr", row_number().over(wC))
      .where(col("cr") <= nProbe)
      .select(col("vec_id").as("q_id"), col("cid"))
    queryCells.join(corpusCell, Seq("cid"))
      .where(col("c_id") =!= col("q_id"))
      .select("q_id", "c_id").distinct()
  }

  /** IVF-PQ (Jégou et al. 2011 §IV — the FAISS `IVFPQR`-style scale path):
    * the coarse inverted-file stage cuts the corpus to the query's probed
    * cells, the PQ-ADC stage ranks ONLY those candidates by asymmetric
    * distance and keeps the top 1/den, and the survivors rerank by exact
    * cosine. This is the composition every billion-vector deployment runs:
    * the cell equi-join bounds which code rows are read (≈ nProbe/nCells
    * of the corpus), and each read costs m code bytes, not the full
    * vector — here 4 bytes vs 256, on ~1/4 of the corpus.
    *
    * Both stages are the already-verified artifacts ([[ivfPairs]],
    * [[pqCodesAndTable]]); the glue is one equi-join on c_id (pairs fan
    * out ×m code rows) plus the broadcast ADC table keyed (q_id, s, code).
    * All exact int64 until the final cosine — the a03/a06 oracle CTEs
    * compose unchanged.
    */
  def ivfPqTopK(emb: DataFrame, queryFilter: Column, k: Int): DataFrame = {
    val pairs = ivfPairs(emb, queryFilter, IvfPqProbe)
    val (codesLong, dt) = pqCodesAndTable(emb, queryFilter)
    val dtr = dt.select(col("q_id").as("dq"), col("s").as("ds"),
      col("cid").as("dcid"), col("qd"))
    val adist = pairs.join(codesLong, "c_id")
      .join(broadcast(dtr),
        col("q_id") === col("dq") && col("s") === col("ds") &&
          col("code") === col("dcid"))
      .groupBy("q_id", "c_id").agg(sum("qd").as("adist"))
    rerankExact(emb, bucketCutCandidates(adist, IvfPqDen), k)
  }

  /** Pure sketch-space top-k ranking — the cheap retrieval RUN (no exact
    * rerank): candidates ordered by the integer sketch cosine, ties on
    * c_id. This is what a fast first-stage retriever returns; compose
    * with [[rrfFuse]] to fuse it with other runs. Same salted two-level
    * rank as [[bruteForceTopK]] — no corpus-sized per-query window.
    */
  def sketchTopK(emb: DataFrame, queryFilter: Column, k: Int): DataFrame = {
    val scored = sketchPairs(sketchFrame(emb, SketchKProj), queryFilter)
    topKPerQuery(scored.withColumnRenamed("ski", "cos"), k)
      .select(col("q_id"), col("c_id"), col("cos").as("ski"), col("rank"))
  }

  /** The rank offset k of Reciprocal Rank Fusion's 1/(k + rank). */
  private val RrfK = 60

  /** Reciprocal Rank Fusion (Cormack et al. 2009): fuse several retrieval
    * runs' rankings of the same query set by score Σ 1/(RrfK + rank),
    * here in exact ppm integers (1e6 div (RrfK + rank)) so the fused
    * order is engine-exact. A doc missing from a run simply contributes
    * nothing — the standard RRF treatment. The hybrid-retrieval staple:
    * an exact dense run and a cheap sketch run disagree on tails, RRF
    * promotes docs both runs rank well.
    *
    * Shape at scale: each run is already a top-k cut, so the union holds
    * ≤ runs·k rows per query — the per-query rank window is BOUNDED, and
    * the fusion aggregate combines map-side.
    */
  def rrfFuse(runs: Seq[DataFrame], k: Int): DataFrame = {
    val contrib = runs.map(_.select(col("q_id"), col("c_id"),
      expr(s"1000000 div ($RrfK + rank)").as("pts"))).reduce(_ unionByName _)
    val fused = contrib.groupBy("q_id", "c_id").agg(sum(col("pts")).as("rrf_e6"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("rrf_e6").desc, col("c_id"))
    fused.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** The most rows [[mmrSelect]]'s running selection may hold: 20 000
    * queries at k = 5. A queryFilter that matches a corpus-sized query set
    * fails loudly instead of collecting it to the driver.
    */
  private val MmrMaxSelected = 100000

  /** [[mmrSelect]]'s candidate pool per query and its λ in ppm. */
  private val MmrPoolK = 20
  private val MmrLambdaPpm = 700000L

  /** Maximal Marginal Relevance diversified top-k (Carbonell & Goldstein
    * 1998): from each query's [[MmrPoolK]] nearest candidates, greedily pick k
    * results maximizing λ·relevance − (1−λ)·max-similarity-to-already-
    * picked — the diversity-aware selection used to de-redundify retrieved
    * exemplars / few-shot context. The first pick is pure relevance
    * (empty selected set ⇒ the redundancy term is 0).
    *
    * Everything the greedy argmax compares is exact int64: relevance and
    * pairwise similarities are e6-rounded cosines, λ is ppm, so
    * mmr = λppm·rel_e6 − (1e6−λppm)·maxsim_e6 (≤ 7e11) and ties break on
    * min c_id — bit-identical to the unrolled DuckDB CTE twin.
    *
    * Shape at scale: the candidate pool and its pairwise similarity frame
    * are per-query BOUNDED (MmrPoolK and MmrPoolK² rows), both checkpointed once;
    * each of the k−1 greedy rounds is an equi-join + map-side-combined max
    * on (q_id, c_id) and a per-query argmax via `max(struct(...))` — an
    * aggregate, never a corpus-wide window. Work is (queries × MmrPoolK²) ×
    * k — linear in the query count, independent of corpus size after the
    * pool cut.
    *
    * The running selection (≤ Q·k rows) is collected to the driver each
    * round ([[localModel]]), bounded by [[MmrMaxSelected]].
    */
  def mmrSelect(emb: DataFrame, queryFilter: Column, k: Int): DataFrame = {
    val lambdaPpm = MmrLambdaPpm
    val mu = 1000000L - lambdaPpm
    val pool = bruteForceTopK(emb, queryFilter, MmrPoolK)
      .select(col("q_id"), col("c_id"),
        round(col("cos") * 1e6).cast("long").as("rel"))
      .localCheckpoint(true)
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val av = pool.select(col("q_id"), col("c_id").as("a_id"))
      .join(e.select(col("vec_id").as("a_id"), col("v").as("av")), "a_id")
    val bv = pool.select(col("q_id"), col("c_id").as("b_id"))
      .join(e.select(col("vec_id").as("b_id"), col("v").as("bv")), "b_id")
    val sims = av.join(bv, Seq("q_id")).where(col("a_id") =!= col("b_id"))
      .select(col("q_id"), col("a_id"), col("b_id"),
        round(cosine(col("av"), col("bv")) * 1e6).cast("long").as("sim"))
      .localCheckpoint(true)
    def argmax(scored: DataFrame, pick: Int): DataFrame =
      scored.groupBy("q_id")
        .agg(max(struct(col("mmr"), (-col("c_id")).as("ni"))).as("m"))
        .select(col("q_id"), (-col("m.ni")).as("c_id"),
          lit(pick).as("pick"), col("m.mmr").as("mmr"))
    // the running selection is ≤ Q·k rows by construction — a bounded
    // result artifact; per round a local relation (localModel) replaces an
    // eager checkpoint, so each greedy round re-joins a literal table
    // instead of re-materializing a query-stage chain
    var selected = localModel(argmax(
      pool.select(col("q_id"), col("c_id"), (col("rel") * lambdaPpm).as("mmr")),
      pick = 1), MmrMaxSelected)
    (2 to k).foreach { i =>
      val selIds = selected.select(col("q_id"), col("c_id"))
      val cand = pool.join(selIds, Seq("q_id", "c_id"), "left_anti")
      val maxsim = sims
        .join(selIds.withColumnRenamed("c_id", "b_id"), Seq("q_id", "b_id"))
        .groupBy(col("q_id"), col("a_id").as("c_id"))
        .agg(max(col("sim")).as("maxsim"))
      val scored = cand.join(maxsim, Seq("q_id", "c_id"))
        .select(col("q_id"), col("c_id"),
          (col("rel") * lambdaPpm - col("maxsim") * mu).as("mmr"))
      selected = localModel(selected.unionByName(argmax(scored, i)), MmrMaxSelected)
    }
    selected
  }
}
