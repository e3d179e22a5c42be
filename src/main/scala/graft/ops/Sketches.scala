package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Frequency and cardinality sketches, built distributively from explode +
  * groupBy aggregates (map-side combined, codegen'd) with FIXED hash
  * functions — every counter is deterministic, so DuckDB reproduces the
  * sketch bit-for-bit and the oracle checks the sketch itself, not just
  * its estimates.
  *
  * Spark ships approx_count_distinct/approx_percentile, but their sketch
  * internals are engine-private (not twin-able); these are the same ideas
  * in oracle-checkable form, and the shapes — (row, bucket) counters,
  * per-bucket max-rank registers — are exactly what survives a 100 TB
  * corpus: sketch size is O(d·w) / O(m) regardless of input rows.
  *
  * This object is also the one home of the hash and bit primitives that
  * the sketches, the MinHash/SimHash dedup ([[DedupOps]]), the ANN sign
  * codes ([[Ann]]) and the seeded samples ([[CurationOps]], [[Ann]]) share.
  * Each Spark form sits beside its DuckDB twin (the `…Sql` builder of the
  * same name), and every oracle that needs one calls the builder:
  *   - the hash family `(a_j·t + b_j) mod P`: [[h]] / [[hSql]] reduce the
  *     value mod P first (count-min, HLL, KMV, Bloom); [[perm]] /
  *     [[permSql]] do not (the MinHash permutation, `Oracles.mhSql`);
  *   - the seeded draw `(x mod 1000003)·2654435761 mod 1000003`: [[draw]] /
  *     [[drawSql]];
  *   - sign-bit packing into one long: [[signBits]] / [[signBitsSql]].
  */
object Sketches {

  /** The modulus of the hash family: 2^31−1, a Mersenne prime. */
  private[graft] val P = 2147483647L

  /** Coefficients of the j-th member of the hash family. The Knuth
    * multiplier makes a·t wrap P even for small t, so the permutation
    * mixes (a small multiplier is monotone on small ids, and min-hash
    * would always elect the smallest token).
    */
  private def a(j: Int): Long = (2654435761L * (j + 1)) % P
  private def b(j: Int): Long = (1013904223L * (j + 1)) % P

  private def lcg(j: Int, x: Column): Column = (lit(a(j)) * x + lit(b(j))) % lit(P)
  private def lcgSql(j: Int, x: String): String = s"(${a(j)}*$x + ${b(j)}) % $P"

  /** The j-th hash of a long value, reduced into P first: A·v overflows
    * int64 for raw values past ~3.4e9 (and the SQL twin would error rather
    * than wrap).
    */
  private[graft] def h(j: Int, v: Column): Column = lcg(j, v % lit(P))

  /** SQL twin of [[h]]. */
  private[graft] def hSql(j: Int, v: String): String = lcgSql(j, s"($v % $P)")

  /** The j-th MinHash permutation t ↦ (a_j·t + b_j) mod P of a token id,
    * with no reduction first (token ids are below P).
    */
  private[graft] def perm(j: Int, t: Column): Column = lcg(j, t.cast("long"))

  /** SQL twin of [[perm]]. */
  private[graft] def permSql(j: Int, t: String): String = lcgSql(j, s"cast($t AS bigint)")

  /** The seeded draw of an id: a multiplicative hash into [0, 1000003), the
    * reproducible stand-in for a random draw in every seeded sample, split
    * and shuffle. The id is reduced into the modulus BEFORE multiplying:
    * id·A overflows int64 once ids pass ~3.4e9 (a silent wrap here, a
    * runtime error in the SQL twin), while (id mod M)·A stays ≤ 2.7e15 for
    * any id.
    */
  private[graft] def draw(id: Column): Column = id % lit(1000003L) * lit(2654435761L) % lit(1000003L)

  /** SQL twin of [[draw]]. */
  private[graft] def drawSql(id: String): String = s"($id % 1000003) * 2654435761 % 1000003"

  /** Sign bits of `slots` packed into one long: bit j is set iff slot j is
    * ≥ 0 (a null slot sets no bit). At most 63 slots, so the code stays a
    * non-negative long.
    */
  private[graft] def signBits(slots: Seq[Column]): Column = {
    require(slots.size <= 63, s"${slots.size} sign bits do not pack into one long")
    slots.zipWithIndex.map { case (s, j) => when(s >= 0, lit(1L << j)).otherwise(0L) }.reduce(_ + _)
  }

  /** SQL twin of [[signBits]]. */
  private[graft] def signBitsSql(slots: Seq[String]): String = {
    require(slots.size <= 63, s"${slots.size} sign bits do not pack into one long")
    slots.zipWithIndex.map { case (s, j) => s"(CASE WHEN $s >= 0 THEN ${1L << j} ELSE 0 END)" }
      .mkString(" + ")
  }

  /** Count-min sketch over an exploded value column: d rows × w buckets of
    * exact counts (one groupBy), plus the point-estimate join for the top-k
    * exact heavy hitters. Output: (tok, exact_cnt, cms_est) — the CMS
    * guarantee est ≥ exact holds by construction; the gap measures
    * collision error at this (d, w).
    */
  def countMinTopK(values: DataFrame, valueCol: String, d: Int, w: Int, topK: Int): DataFrame = {
    val v = col(valueCol).cast("long")
    val cells = values.select(explode(array((0 until d).map(j =>
      struct(lit(j).as("r"), (h(j, v) % w).as("b"))): _*)).as("c"))
      .select(col("c.r").as("r"), col("c.b").as("b"))
    val cms = cells.groupBy("r", "b").agg(count(lit(1)).as("n"))
    val exact = values.groupBy(v.as("tok")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok")).limit(topK)
    val probes = exact.select(col("tok"), col("exact_cnt"),
      explode(array((0 until d).map(j =>
        struct(lit(j).as("r"), (h(j, col("tok")) % w).as("b"))): _*)).as("c"))
      .select(col("tok"), col("exact_cnt"), col("c.r").as("r"), col("c.b").as("b"))
    probes.join(cms, Seq("r", "b"))
      .groupBy("tok", "exact_cnt").agg(min(col("n")).as("cms_est"))
  }

  /** HyperLogLog-shaped distinct estimator per group, oracle-exact: m
    * registers, register = max over values of the rank (number of leading
    * zero bits + 1) of a fixed integer hash. The register table AND the
    * estimate are deterministic: Σ 2^-M[j] sums dyadic rationals well
    * inside double's 53-bit mantissa, so the float sum is exact and
    * order-independent (safe through an unordered groupBy in both
    * engines). Raw HLL estimate without bias correction — the comparison
    * column `exact` is computed alongside.
    */
  def hllDistinct(values: DataFrame, groupCol: String, valueCol: String, m: Int): DataFrame = {
    require((m & (m - 1)) == 0, "m must be a power of two")
    val v = col(valueCol).cast("long")
    val hv = h(0, v) // 31-bit hash
    val reg = hv % m
    // rank = position of the lowest set bit in hv div m (+1), capped: a
    // deterministic stand-in for leading zeros that both engines compute
    // with integer ops only
    val body = hv.divide(lit(m)).cast("long")
    val rank = (1 to 24).foldLeft(lit(1): Column) { (acc, k) =>
      when(body % lit(1L << k) === 0, lit(k + 1)).otherwise(acc)
    }
    val regs = values
      .select(col(groupCol), reg.as("reg"), when(body === 0, lit(25)).otherwise(rank).as("rho"))
      .groupBy(groupCol, "reg").agg(max(col("rho")).as("mx"))
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    // 2^-mx as 1.0/(1<<mx): integer shift + one division — exact dyadic,
    // no libm pow involved on either engine
    val est = regs.groupBy(groupCol).agg(
      sum(expr("1.0 / shiftleft(cast(1 AS bigint), cast(mx AS int))")).as("z"),
      count(lit(1)).as("nz"))
      // unseen registers contribute 2^0 each
      .withColumn("zeros", lit(m) - col("nz"))
      .withColumn("z", col("z") + col("zeros"))
      .withColumn("raw", lit(alpha * m * m) / col("z"))
      // standard small-range correction: below 2.5m with empty registers,
      // linear counting m·ln(m/zeros) beats the raw estimator
      .withColumn("hll_est",
        when(col("raw") <= lit(2.5 * m) && col("zeros") > 0,
          round(lit(m.toDouble) * log(lit(m.toDouble) / col("zeros"))))
          .otherwise(round(col("raw"))).cast("long"))
    val exact = values.groupBy(groupCol).agg(countDistinct(v).as("exact"))
    est.join(exact, groupCol).select(col(groupCol), col("hll_est"), col("exact"))
  }

  /** KMV (k-minimum-values) distinct-count sketch per group — Beyer et
    * al. 2007, "On Synopses for Distinct-Value Estimation Under Multiset
    * Operations": keep the k smallest distinct hash values per group;
    * with U_(k) the k-th smallest of a hash uniform on [0, P), the
    * estimator is (k-1)·P / U_(k) — here exact int64 division, so both
    * engines agree bit-for-bit (no float ever appears). A group holding
    * fewer than k distinct hashes reports its sketch size: the sketch IS
    * the exact set there. The exact distinct count rides alongside, like
    * the s03 HLL row — the gap is the estimator's error at this k.
    *
    * Shape at scale: the k smallest per group come from the SALTED
    * two-level rank ([[Ann.saltedTopK]], salted by the hash itself): rank
    * within (group, salt) — each salt partition holds ~1/32 of the
    * group's hashes — keep k, then a final rank over the ≤ 32·k
    * survivors. No group-wide sort touches the corpus at any size, and
    * the synopsis is O(k) per group regardless of input rows — the
    * mergeable-summary property that makes KMV the set-operation sketch
    * (union = merge-and-cut, unlike HLL registers which only union).
    */
  def kmvDistinct(values: DataFrame, groupCol: String, valueCol: String, k: Int): DataFrame = {
    val v = col(valueCol).cast("long")
    val dist = values.select(col(groupCol), h(0, v).as("hv")).distinct()
    val sk = Ann.saltedTopK(dist, col(groupCol), col("hv"), Seq(col("hv")), k)
      .groupBy(groupCol).agg(
        max(when(col("rank") === k, col("hv"))).as("kth"),
        count(lit(1)).as("nk"))
    val exact = values.groupBy(groupCol).agg(countDistinct(v).as("exact"))
    sk.join(exact, groupCol)
      .select(col(groupCol),
        when(col("nk") < k, col("nk"))
          .otherwise(expr(s"${(k - 1).toLong * P} div kth")).as("kmv_est"),
        col("exact"))
  }

  /** Bloom-filter decontamination — the fixed-size-filter variant of
    * `CurationOps.decontaminate`: eval-set shingles are inserted into an
    * m-bit Bloom filter (k fixed LCG hashes), and a training shingle "hits"
    * iff ALL k of its bit positions are set. Output: training docs whose
    * bloom-hit shingle count reaches `minHits` (a deterministic SUPERSET of
    * the exact overlap ≥ minHits set — Bloom filters have no false
    * negatives; false positives arrive at the documented (1-e^(-kn/m))^k
    * rate and are acceptable for a contamination QUARANTINE list).
    *
    * Shape at 100 TB: the filter is O(m) REGARDLESS of eval-set size — here
    * represented as the distinct set of SET bit positions (≤ m rows, the
    * oracle-checkable twin of an m-bit bitmap; a production variant packs
    * them into m/64 longs), built with one map-side-combined aggregate over
    * the (tiny) eval side and broadcast. The corpus side is one codegen'd
    * explode (k rows per distinct shingle) + broadcast-hash probe + two
    * map-side-combined aggregates — the corpus never shuffles on the
    * shingle key and never joins eval rows, only filter bits. Everything is
    * integer arithmetic on fixed hashes: DuckDB reproduces the filter and
    * the hit set bit-for-bit.
    *
    * `rows` must be DISTINCT (sid, tok) shingle rows (dedup=true), like the
    * exact decontaminate.
    */
  def bloomDecontaminate(rows: DataFrame, evalPred: Column, m: Int, k: Int,
                         minHits: Int): DataFrame = {
    val tokL = col("tok").cast("long")
    val bits = rows.where(evalPred)
      .select(explode(array((0 until k).map(j => h(j, tokL) % m): _*)).as("p"))
      .distinct()
    val probes = rows.where(!evalPred)
      .select(col("sid"), col("tok"), explode(array((0 until k).map(j =>
        struct(lit(j).as("j"), (h(j, tokL) % m).as("p"))): _*)).as("c"))
      .select(col("sid"), col("tok"), col("c.p").as("p"))
    probes.join(broadcast(bits), "p")
      // each of the k probe rows matches at most one distinct filter
      // position, so matched-row count == k ⇔ every position is set
      .groupBy("sid", "tok").agg(count(lit(1)).as("mt"))
      .where(col("mt") === k)
      .groupBy("sid").agg(count(lit(1)).as("bloom_hits"))
      .where(col("bloom_hits") >= minHits)
      .select(col("sid").as("did"), col("bloom_hits"))
  }
}
