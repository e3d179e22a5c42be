package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators.
  *
  * All hash arithmetic is pure int64 (linear-congruential over token ids /
  * md5 over text) so the DuckDB oracle reproduces values exactly — no
  * engine-specific hash functions in any correctness-checked path.
  *
  * Scale design: every operator is groupBy/join on a derived key — fully
  * shuffle-parallel, no driver-side state, no quadratic blowup:
  * exact dedup is one hash aggregate; MinHash-LSH joins on band keys
  * (O(candidates), not O(n²)); SimHash groups on a 16-bit key; verification
  * joins are confined to candidate pairs.
  *
  * The hash and sign-bit primitives (the MinHash permutation, SimHash's
  * bit packing, the shingle modulus) are [[Sketches]]' and sit beside their
  * SQL twins there. The LSH band self-join ([[bandPairs]], SQL twin
  * `Oracles.PairsCte`) and the token-array pair verify ([[intersectPairs]],
  * SQL twin [[intersectSql]]) are defined once here.
  */
object DedupOps {

  import Sketches.{P, perm}

  /** Exact dedup: md5(text) groups; keep min doc_id as canonical
    * representative. One map-side-combined hash aggregate — at 100 TB the
    * shuffle carries one row per distinct hash.
    */
  def exactDuplicates(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("dup_cnt"), min(col("doc_id")).as("keep_doc_id"))
      .where(col("dup_cnt") > 1)

  /** Keep one representative row per exact-duplicate group. */
  def exactDedup(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    docs.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** j-th MinHash over an int-token array: min over tokens of the LCG
    * permutation ([[Sketches.perm]], the same one the aggregate signature
    * uses). Min over the multiset equals min over the set, so no dedup of
    * tokens needed.
    */
  def minhash(tokens: Column, j: Int): Column =
    array_min(transform(tokens, perm(j, _)))

  /** 16-bit SimHash over token ids: bit b of the hash is the sign of
    * Σ_tokens (2·bit_b(t) − 1). Computed with explode + one groupBy carrying
    * 16 conditional sums (map-side combined; shuffle = one row per doc).
    */
  def simhash16(docs: DataFrame, idCol: String, tokens: Column): DataFrame = {
    val e = docs.select(col(idCol), explode(tokens).as("t"))
    val sums = (0 until 16).map { b =>
      sum(when(shiftright(col("t"), b) % 2 === 1, 1L).otherwise(-1L)).as(s"s$b")
    }
    val agg = e.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
    agg.select(col(idCol), Sketches.signBits((0 until 16).map(b => col(s"s$b"))).as("simhash"))
  }

  /** Distinct int32 shingle tokens: base-31 ascii hash of each n-char
    * shingle mod 2^31−1 — pure arithmetic, identical in the SQL oracle.
    * This is the shingle→int step of the MinHash pipeline
    * (shingle → minhash → band → bucket-join).
    */
  def shingleTokens(text: Column, n: Int): Column =
    // the sliding WindowHashes pass computes the same values (stepwise mod
    // == single final mod — mod is a ring homomorphism); the residual HOF
    // is only the per-element int cast over the finished array
    array_distinct(transform(graft.functions.WindowHashes.of(text, n, P), x => x.cast("int")))

  /** Distinct (sid, tok) shingle ROWS — the whole-stage-codegen form of
    * [[shingleTokens]]: one sliding [[graft.functions.WindowHashes]] pass
    * per document (a codegen Expression — O(len) total, vs the earlier
    * n-node fold per exploded position), then a codegen explode and a
    * map-side-combined distinct. Same values as ever (stepwise mod equals
    * the original chain's single final mod); no interpreted higher-order
    * function anywhere — HOFs are CodegenFallback in Spark 4 and once
    * dominated the d-series cost (~2-3 s per pass at sf0.1 interpreted).
    */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String, n: Int,
                  dedup: Boolean = true): DataFrame = {
    // one linear WindowHashes pass per doc (same values: stepwise mod ==
    // the chain's single final mod) instead of n substr+ascii nodes per
    // exploded position. Duplicate (sid, tok) rows can only arise WITHIN
    // one document (repeated windows of its own text), so the dedup is an
    // array_distinct over the per-doc hash array BEFORE the explode — the
    // identical (sid, tok) set with ZERO shuffle, where a row-level
    // .distinct() exchanged the whole corpus-sized token frame on
    // (sid, tok) (guide §2.4: remove shuffles outright). Per-doc set state
    // is bounded by the document's own length at any corpus size.
    val hashes = graft.functions.WindowHashes.of(col(textCol), n, P)
    val arr = if (dedup) array_distinct(hashes) else hashes
    docs.select(col(idCol).as("sid"), explode(arr).as("__h"))
      .select(col("sid"), col("__h").cast("int").as("tok"))
  }

  /** k-wide MinHash signature m0..m{k-1} from (sid, tok) rows: one
    * whole-stage-codegen'd aggregate with map-side combine that shuffles one
    * row per doc — not a per-doc array `transform` HOF, which is
    * CodegenFallback (interpreted) and which Catalyst's project collapse
    * re-inlines into every band key (measured: 15+ min for 5k docs). Only
    * docs with rows appear (shingle-less docs cannot band-match anyway).
    */
  def minhashSigRows(rows: DataFrame, k: Int): DataFrame = {
    val aggs = (0 until k).map(j => min(perm(j, col("tok"))).as(s"m$j"))
    rows.groupBy("sid").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band rows (sid, band_idx, band_key) from a k-minhash signature
    * frame: k/r bands of r minhashes, each key a plain-column string
    * concat (cheap, evaluated once).
    */
  def bandRows(sig: DataFrame, k: Int, r: Int): DataFrame = {
    require(k % r == 0, "k must be divisible by r")
    val bands = (0 until k / r).map { bi =>
      struct(lit(bi).as("band_idx"),
        concat_ws("_", (0 until r).map(o => col(s"m${bi * r + o}").cast("string")): _*).as("band_key"))
    }
    sig.select(col("sid"), explode(array(bands: _*)).as("__band"))
      .select(col("sid"), col("__band.band_idx").as("band_idx"), col("__band.band_key").as("band_key"))
  }

  /** The LSH band self-join: distinct (doc_a, doc_b) pairs, doc_a < doc_b,
    * of the sids that share a band key in some band. SQL twin:
    * `Oracles.PairsCte`.
    */
  private def bandPairs(bands: DataFrame): DataFrame =
    bands.select(col("sid").as("doc_a"), col("band_idx"), col("band_key"))
      .join(bands.select(col("sid").as("doc_b"), col("band_idx"), col("band_key")),
        Seq("band_idx", "band_key"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()

  /** MinHash-LSH candidate pairs from (sid, tok) rows (doc_a < doc_b). */
  def lshCandidatesRows(rows: DataFrame, k: Int, r: Int): DataFrame =
    bandPairs(bandRows(minhashSigRows(rows, k), k, r))

  /** [[duplicateClusters]] over the GROUP graph — value-identical, built
    * for corpora with large exact/near-identical families: docs sharing an
    * identical k-minhash signature are automatically a pairwise LSH clique
    * (equal signatures ⇒ equal band keys), so each signature group
    * collapses to its min-sid representative BEFORE banding and label
    * propagation. The band self-join then runs over distinct signatures
    * only, and propagation sees each clique as ONE node — a ~500-doc
    * near-dup family stops contributing ~125k pairs and its diameter
    * collapses to 0. Equality with the doc-level form: gid = min sid of
    * its group, so the component min over groups IS the component min over
    * docs; a doc is a node iff its group has ≥2 members (intra-group
    * pairs) or its group shares a band with another group (inter-group
    * pair) — exactly the docs appearing in some candidate pair. The same
    * reduction the DuckDB twin needed for tractability (d09 oracle's
    * sgrp/gedges CTEs). Verified value-identical to the doc-level form in
    * OpsSpec (planted corpus, exceptAll both ways) and bit-identical at
    * sf0.1/10× against the doc-level dumps + the 10× union-find.
    *
    * WHEN TO USE WHICH (measured, adjacent doc-level/collapsed A/B over the
    * same checkpointed shingle rows in one JVM): on a pairs-SPARSE corpus (near-dups rotated apart,
    * like the testdata and its 10× upscale) the doc-level form is ~10-30%
    * faster (5.0-5.8 s vs 5.5-7.8 s at sf0.1; 11.9-14.1 vs 12.5-16.4 s at
    * 10×) — the collapse's signature-window shuffle and extra checkpoints
    * buy nothing when groups are singletons. The moment VERBATIM families
    * appear (boilerplate pages — every real web crawl), doc pairs grow
    * quadratically per family and the collapse wins outright: with 200
    * docs × 300 verbatim copies planted on sf0.1, 7.3-8.6 s vs 35-39 s
    * doc-level (~5×), identical 61,794-row output. The driver queries
    * default to the doc-level form because the gate corpus is
    * pairs-sparse; a verbatim-heavy corpus should switch.
    *
    * rows: (sid, tok) shingle rows. Output: (sid, cluster) like
    * [[duplicateClusters]].
    */
  def duplicateClustersCollapsed(rows: DataFrame, k: Int, r: Int): DataFrame = {
    require(k % r == 0, "k must be divisible by r")
    // the signature frame feeds the group map AND the representative bands
    val sig = minhashSigRows(rows, k).localCheckpoint(true)
    val bySig = Window.partitionBy((0 until k).map(j => col(s"m$j")): _*)
    // per-signature-group state is bounded by one duplicate family's size,
    // never the corpus
    val grp = sig.select(col("sid"),
        min(col("sid")).over(bySig).as("gid"),
        count(lit(1)).over(bySig).as("gsz"))
      .localCheckpoint(true) // feeds representative pick + final join-back
    val reps = grp.where(col("sid") === col("gid")).select("sid")
    val glab = duplicateClusters(bandPairs(bandRows(sig.join(reps, "sid"), k, r)))
      .select(col("sid").as("gid"), col("cluster"))
    grp.join(glab, Seq("gid"), "left")
      .where(col("gsz") >= 2 || col("cluster").isNotNull)
      .select(col("sid"), coalesce(col("cluster"), col("gid")).as("cluster"))
  }

  /** The pair verify: candidate `pairs` (doc_a, doc_b) joined to both
    * sides' token arrays from `sets` (sid, ts) — renamed ta/sz_a and
    * tb/sz_b, with `sz` each side's set size — plus `inter`, the size of
    * the arrays' intersection, an exact set intersection when each `ts` is
    * distinct. SQL twin: [[intersectSql]].
    *
    * Per-pair intersection on the token ARRAYS: an explicit two-key token
    * join pushes |pairs|·|doc| exploded rows through a shuffle (23M at
    * sf0.1 for d22's 87k candidates), while the array join ships each
    * candidate doc's tokens once and intersects in place; array_intersect is
    * a native expression, not a CodegenFallback HOF.
    *
    * The pair frame is byte-SMALL (two longs per pair) but each pair costs
    * a real array_intersect over two ~hundreds-token arrays: AQE's
    * byte-based coalescing folded the whole verify into ONE task (measured
    * 4.3–5.2 s single-task at sf0.1 while 31 cores idled). An explicit hash
    * repartition with a pinned partition count (AQE respects a
    * user-specified numPartitions) keeps the verify parallel; the count
    * follows the session's shuffle parallelism. It is keyed on doc_a ALONE
    * so it cannot collapse into a distinct's (doc_a, doc_b) exchange — an
    * ENSURE_REQUIREMENTS exchange gets coalesced by bytes.
    */
  private def intersectPairs(pairs: DataFrame, sets: DataFrame, sz: Column): DataFrame = {
    val nVerify = sets.sparkSession.sparkContext.defaultParallelism
    def side(id: String, t: String, s: String): DataFrame =
      sets.select(col("sid").as(id), col("ts").as(t), sz.as(s))
    pairs.repartition(nVerify, col("doc_a"))
      .join(side("doc_a", "ta", "sz_a"), "doc_a")
      .join(side("doc_b", "tb", "sz_b"), "doc_b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
  }

  /** SQL twin of [[intersectPairs]] (the d04/d15/d22 oracles' verify):
    * `pairs` (doc_a, doc_b) joined to both docs' distinct token lists
    * `stoks` in `sets`, with inter, sz_a and sz_b.
    */
  private[graft] def intersectSql(pairs: String, sets: String): String =
    s"""  SELECT p.doc_a, p.doc_b,
       |    len(list_intersect(x.stoks, y.stoks)) AS inter,
       |    len(x.stoks) AS sz_a, len(y.stoks) AS sz_b
       |  FROM $pairs p
       |  JOIN $sets x ON x.sid = p.doc_a
       |  JOIN $sets y ON y.sid = p.doc_b""".stripMargin

  /** Exact Jaccard over (sid, tok) rows for given candidate pairs
    * (doc_a, doc_b): per-pair intersection of the two docs' token sets.
    * PRECONDITION: rows must be distinct per (sid, tok)
    * ([[shingleRows]] with dedup=true) — duplicates inflate `inter`.
    */
  def jaccardRows(rows: DataFrame, pairs: DataFrame): DataFrame = {
    // the rows-distinct precondition makes the collected list a set
    val docsArr = rows.groupBy("sid")
      .agg(collect_list(col("tok")).as("ts"), count(lit(1)).as("sz"))
      .localCheckpoint(true)
    intersectPairs(pairs, docsArr, col("sz"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 6))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("sz_a"), col("sz_b"),
        col("jaccard"))
  }

  /** EXACT all-pairs similarity self-join by prefix filtering (Bayardo,
    * Ma & Srikant 2007, "Scaling Up All Pairs Similarity Search"; the
    * candidate lemma is Chaudhuri et al. 2006 / Xiao et al. 2008 PPJoin,
    * the size filter is Arasu et al. 2006): every document pair with
    * token-set Jaccard ≥ t — no LSH probability of a miss, unlike
    * [[lshCandidatesRows]]. Two exact filters bound the candidates:
    * (1) PREFIX — order all tokens globally by (document frequency asc,
    * token asc) and keep each document's first L − ceil(t·L) + 1 tokens;
    * J(A,B) ≥ t implies |A∩B| ≥ ceil(t·max(|A|,|B|)), so two qualifying
    * documents must collide inside both prefixes — only prefix rows ever
    * join, and the prefix keeps each document's RAREST tokens, so the
    * inverted lists the join walks are the short tail of the df
    * distribution, not the boilerplate head. (2) SIZE — J ≥ 1/2 forces
    * 2·min(|A|,|B|) ≥ max(|A|,|B|) (inter ≤ min and inter ≥ max/2), a
    * pushed-down predicate on the candidate join itself.
    *
    * The token BASIS is the caller's lever against dense corpora: on this
    * corpus 8-char shingles leave 71 % of ALL pairs as candidates (the
    * shared small vocabulary makes every "rare" 8-gram common — measured
    * 8.8 M candidates over 5 000 docs), while 16-char window hashes make
    * the df tail genuinely heavy and cut candidates 100× (87 k) for the
    * identical true-pair set. Pass the widest window the near-dup
    * definition tolerates.
    *
    * Input: one row per document, `(sid, ts)`, where `ts` is the
    * document's DISTINCT tokens (duplicates would inflate `inter`, `len`
    * and `sz`); a document with an empty or null `ts` joins no pair. The
    * function localCheckpoints this frame once: its token rows (for the
    * df table and the prefix rank) are an explode of it, and its arrays are
    * the verify step's token sets as they stand — no regroup of the token
    * rows back into per-document arrays.
    *
    * Shape at scale: the df table is one map-side-combined aggregate; the
    * rank window is bounded by a single document's token count; the
    * candidate join is an equi-join on the prefix token (low-df keys by
    * construction — AQE skew-join covers a pathological corpus); the
    * verify is a per-pair token-array intersection over candidates only.
    *
    * tE6 is the Jaccard threshold in microunits; both filters are derived
    * for t = 1/2 — the emitted jac_e6 floor-division cut equals the exact
    * rational predicate 2·inter ≥ |A∪B|.
    */
  def allPairsSimilarity(docs: DataFrame, tE6: Long): DataFrame = {
    require(tE6 == 500000L, "prefix and size filters are derived for t = 1/2")
    // every consumer below reads this frame — materialize once, so the
    // caller's token derivation runs once
    val sets = docs.select(col("sid"), col("ts")).localCheckpoint(true)
    val rows = sets.select(col("sid"), explode(col("ts")).as("tok"))
    val df = rows.groupBy("tok").agg(count(lit(1)).as("df"))
    val ranked = rows.join(df, "tok")
      .withColumn("rn", row_number().over(
        Window.partitionBy("sid").orderBy("df", "tok")))
      // same partition AND sort as the rank window (unbounded frame ⇒ same
      // value as an unordered count) so Catalyst collapses both into ONE
      // Window operator — one sort of the token frame, not two
      .withColumn("len", count(lit(1)).over(
        Window.partitionBy("sid").orderBy("df", "tok")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // p = L - ceil(L/2) + 1 with ceil(L/2) = (L+1) div 2 — integer-exact
    // both sides of the candidate self-join read this frame — materialize
    // once or the df join + two windows execute per side (the a05/a06 trap)
    val pref = ranked.where(col("rn") <= col("len") - expr("(len + 1) div 2") + 1)
      .select("sid", "tok", "len").localCheckpoint(true)
    // the candidates verify on the token arrays in pinned parallelism
    // ([[intersectPairs]])
    val cand = pref.as("a").join(pref.as("b"), "tok")
      .where(col("a.sid") < col("b.sid") &&
        col("a.len") * 2 >= col("b.len") && col("b.len") * 2 >= col("a.len"))
      .select(col("a.sid").as("doc_a"), col("b.sid").as("doc_b")).distinct()
    intersectPairs(cand, sets, size(col("ts")).cast("long"))
      .withColumn("jac_e6", expr("inter * 1000000 div (sz_a + sz_b - inter)"))
      .where(col("jac_e6") >= tE6)
      .select("doc_a", "doc_b", "inter", "sz_a", "sz_b", "jac_e6")
  }

  /** Incremental MinHash-LSH near-dup detection against an indexed corpus —
    * the daily-delta path of dedup at 100 TB: the standing corpus's band
    * keys are a precomputed artifact (in production they live alongside the
    * d08 exact-hash index; here both sides derive from one banding pass
    * split by the delta predicate), and only the DELTA probes them. The
    * delta band rows broadcast (a day's intake is orders of magnitude
    * smaller than the corpus), so the candidate probe is a broadcast hash
    * join against the index bands — the corpus never shuffles on the band
    * key. Candidates verify by exact shingle Jaccard ([[jaccardRows]], as
    * d04 does) and pairs clearing minJacE6 report as near-duplicates
    * of the standing corpus.
    *
    * rows: distinct (sid, tok) shingle rows for index ∪ delta (the
    * [[jaccardRows]] precondition); deltaPred: predicate on sid selecting
    * the new batch. Output: (index_id, delta_id, inter, sz_index,
    * sz_delta, jac_e6) — integer microunit Jaccard, never a rounded
    * parallel double.
    */
  def lshAgainstIndex(rows: DataFrame, deltaPred: Column, k: Int, r: Int,
                      minJacE6: Long): DataFrame = {
    // one banding pass feeds BOTH probe sides — materialize once
    val b = bandRows(minhashSigRows(rows, k), k, r).localCheckpoint(true)
    val cand = b.where(!deltaPred)
      .select(col("sid").as("doc_a"), col("band_idx"), col("band_key"))
      .join(broadcast(b.where(deltaPred)
        .select(col("sid").as("doc_b"), col("band_idx"), col("band_key"))),
        Seq("band_idx", "band_key"))
      .select("doc_a", "doc_b").distinct()
    jaccardRows(rows, cand)
      .withColumn("jac_e6", expr("(inter * 1000000) div (sz_a + sz_b - inter)"))
      .where(col("jac_e6") >= minJacE6)
      .select(col("doc_a").as("index_id"), col("doc_b").as("delta_id"),
        col("inter"), col("sz_a").as("sz_index"), col("sz_b").as("sz_delta"),
        col("jac_e6"))
  }

  /** Label-propagation rounds [[duplicateClusters]] runs before it fails as
    * not converged.
    */
  private val MaxClusterIters = 20

  /** Connected components over candidate pairs — the clustering step a real
    * dedup pipeline runs after LSH (keep one representative per component,
    * not per pair). Distributed min-label propagation: every node starts as
    * its own label; each round joins labels across (symmetric) edges and
    * keeps the minimum; stops at fixpoint. Rounds ≈ graph diameter (near-dup
    * components are shallow); each round is one shuffle join + one
    * aggregate — no driver-side graph state, only the convergence check
    * (a count) leaves the cluster. pairs: (doc_a, doc_b) with doc_a < doc_b.
    */
  def duplicateClusters(pairs: DataFrame): DataFrame = {
    // materialize the edge list once and TRUNCATE its lineage — every round
    // re-joins it, and without the checkpoint each round's plan would embed
    // the whole LSH pipeline (re-analyzed per round: measured 135 s at
    // sf0.1 with plain persist, <10 s with checkpointed rounds)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("sid")).distinct()
      .withColumn("lbl", col("sid")).localCheckpoint(true)
    var converged = false
    var i = 0
    // one relax+jump step over a (sid, lbl, old) frame; `old` (the label at
    // the START of the materialization window) rides through untouched so
    // the convergence check compares across however many chained steps
    // preceded the checkpoint. Labels only ever DECREASE toward the
    // component min, so "no change across two chained steps" ⇔ "fixpoint"
    // — exactly the old per-step criterion, reached with half the
    // checkpoints, counts and per-round plans (each a full job barrier +
    // driver planning round, the measured bulk of the loop's cost at small
    // scale and a scheduling barrier at any scale, guide §2.6).
    def step(cur: DataFrame): DataFrame = {
      // edge relaxation: min label among self + neighbors; the self branch
      // carries `old` through the aggregate (max over one non-null)
      val viaEdges = edges.join(cur, edges("src") === cur("sid"))
        .select(col("dst").as("sid"), col("lbl"), lit(null).cast("long").as("old"))
      val relaxed = cur.select(col("sid"), col("lbl"), col("old"))
        .union(viaEdges)
        .groupBy("sid").agg(min(col("lbl")).as("lbl"), max(col("old")).as("old"))
      // pointer jumping: follow lbl → lbl(lbl), compressing label chains so
      // convergence scales with log(diameter) rather than diameter
      val parents = relaxed.select(col("sid").as("p_sid"), col("lbl").as("p_lbl"))
      relaxed.join(parents, relaxed("lbl") === parents("p_sid"), "left")
        .select(col("sid"),
          least(col("lbl"), coalesce(col("p_lbl"), col("lbl"))).as("lbl"), col("old"))
    }
    while (!converged && i < MaxClusterIters) {
      val start = labels.select(col("sid"), col("lbl"), col("lbl").as("old"))
      val next = step(step(start)).localCheckpoint(true)
      val changed = next.where(col("lbl") =!= col("old")).count()
      labels = next.select("sid", "lbl")
      converged = changed == 0
      i += 1
    }
    // never return silently-wrong (non-minimal) labels: with pointer
    // jumping, convergence takes O(log diameter) rounds, so hitting the cap
    // almost certainly means a bug — fail loudly instead
    require(converged,
      s"duplicateClusters did not converge within $MaxClusterIters rounds")
    labels.select(col("sid"), col("lbl").as("cluster"))
  }

  /** Soft deduplication: instead of DROPPING near-duplicates, every
    * document gets a training sampling weight 1/|its duplicate cluster|
    * (SlimPajama-style down-weighting / the "soft dedup" alternative in
    * recent data-curation ablations) so each duplicated FAMILY contributes
    * one document's worth of expected training mass while retaining all
    * phrasings. Weights are exact ppm integers (1e6 div size); documents
    * in no cluster are singletons at weight 1e6.
    *
    * Shape at scale: `clusters` (sid → cluster, from
    * [[duplicateClusters]]) materializes once — it feeds both the size
    * aggregate and the member join — then one map-side-combined count on
    * the cluster id, one equi-join back, and a left join from the corpus
    * to surface singletons. Cluster ids are component-min doc ids, so the
    * size join key is high-cardinality — no hot key even when one family
    * is huge.
    */
  def softDedupWeights(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val cl = clusters.localCheckpoint(true)
    val sizes = cl.groupBy("cluster").agg(count(lit(1)).as("csz"))
    val member = cl.join(sizes, "cluster").select(col("sid"), col("csz"))
    docs.select(col("doc_id").as("sid"))
      .join(member, Seq("sid"), "left")
      .select(col("sid"), coalesce(col("csz"), lit(1L)).as("csz"),
        expr("1000000 div coalesce(csz, 1)").as("weight_ppm"))
  }

  /** Quality-aware canonical selection per duplicate cluster — the decision
    * step real pipelines run after clustering: instead of keeping an
    * arbitrary member (min id), keep the HIGHEST-QUALITY document of each
    * near-dup component (ties broken by min id, so the choice is
    * deterministic). `clusters`: (sid, cluster) from [[duplicateClusters]];
    * `quality`: (sid, quality) with an exact-integer score (e.g.
    * TextOps.qualityScore).
    *
    * Scale shape: one equi-join on sid (corpus-partitioned), then a
    * map-side-combined aggregate per cluster — max(struct(quality, −sid))
    * picks the representative without a window, so a pathologically large
    * component never becomes one task's sort. Output: one row per cluster
    * member (did, cluster, quality, n_members, keep).
    */
  def clusterCanonical(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val members = clusters.join(quality, "sid")
    val best = members.groupBy(col("cluster"))
      .agg(max(struct(col("quality"), (-col("sid")).as("neg_sid"))).as("best"),
        count(lit(1)).as("n_members"))
    members.join(best, "cluster")
      .select(col("sid").as("did"), col("cluster"), col("quality"),
        col("n_members"),
        (col("sid") === -col("best.neg_sid")).cast("int").as("keep"))
  }

  /** Embedding cosine near-duplicates with sorted-neighborhood blocking:
    * candidate pairs are limited to ids within `window` of each other inside
    * a label block — linear candidate count, no n² cross join. Cosine is a
    * sequential double fold (bit-identical in the SQL oracle).
    */
  def embeddingNearDup(emb: DataFrame, window: Int, minCos: Double): DataFrame = {
    val asD = col("embedding").cast("array<double>")
    val e = emb.select(col("vec_id"), col("label"), asD.as("v"))
    // blocking key = (label, id-block): side A explodes to blocks
    // {⌊a/w⌋, ⌊a/w⌋+1} so any b with 0 < b−a ≤ w lands in exactly one
    // matching block (⌊b/w⌋ is one of the two). A label-only equi-join
    // would go quadratic on a hot label; this keeps candidates linear in
    // window size regardless of label skew — same rows, tighter key.
    val a = e.select(col("vec_id").as("id_a"), col("label"), col("v").as("va"),
        explode(array(floor(col("vec_id") / window), floor(col("vec_id") / window) + 1)).as("blk"))
    val b = e.select(col("vec_id").as("id_b"), col("label"), col("v").as("vb"),
        floor(col("vec_id") / window).as("blk"))
    a.join(b, Seq("label", "blk"))
      .where(col("id_b") > col("id_a") && col("id_b") - col("id_a") <= window)
      .withColumn("cos", Ann.cosine(col("va"), col("vb")))
      .where(col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }

  /** Semantic dedup, stage 2 of SemDeDup (Abbas et al. 2023): cluster the
    * embeddings ([[Ann.kmeansSketch]]), pick the min-id member of each
    * cluster as its representative, and score every other member's exact
    * cosine against its representative — members at or above `minCos` are
    * pruned. Cosine work is O(N) (one representative per member, never
    * pairwise within a cluster), and the k representative vectors travel
    * by broadcast; the only wide exchange is the member-side vec_id join.
    *
    * Output: every non-representative member with (cluster, rep_id,
    * cos_e6, pruned 0/1).
    */
  def semDedup(emb: DataFrame, minCos: Double): DataFrame = {
    val asn = Ann.kmeansSketch(emb)
    val reps = asn.groupBy("cluster").agg(min(col("vec_id")).as("rep_id"))
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val repVec = reps.join(
      e.select(col("vec_id").as("rep_id"), col("v").as("rv")), "rep_id")
    asn.join(e, "vec_id").join(broadcast(repVec), "cluster")
      .where(col("vec_id") =!= col("rep_id"))
      .withColumn("cos", Ann.cosine(col("v"), col("rv")))
      .select(col("vec_id"), col("cluster"), col("rep_id"),
        round(col("cos") * 1e6).cast("long").as("cos_e6"),
        when(col("cos") >= minCos, 1L).otherwise(0L).as("pruned"))
  }
}
