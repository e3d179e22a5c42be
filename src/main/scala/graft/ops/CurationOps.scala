package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between ingest and tokenization: repetition-based quality signals
  * (Gopher-style), train/eval decontamination, deterministic domain-mix
  * sampling, and a corpus-frequency language-model familiarity score
  * (CCNet-style, with an integer frequency table standing in for the
  * KenLM probabilities — no model binaries exist in this sandbox).
  *
  * All derivations are pure Catalyst expressions over integer arithmetic
  * with exact DuckDB twins; doubles appear nowhere (ratios are emitted as
  * `x*1e6 div n` integer micro-units).
  */
object CurationOps {

  /** Whitespace tokens with positions, empty tokens dropped (the corpus
    * tokenization convention shared with the oracle's
    * `list_filter(string_split(text,' '), …)`).
    */
  private def posTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("did"),
      posexplode(filter(split(col("text"), " "), w => length(w) > 0)).as(Seq("pos", "tok")))

  /** Gopher-style repetition signals per document (Rae et al. 2021 §A1.1,
    * adapted to word n-grams): the fraction of the document covered by its
    * single most frequent word bigram, and the fraction of 5-gram
    * occurrences whose 5-gram occurs more than once. High values mark
    * boilerplate/spam for downstream filtering.
    *
    * Shape at scale: one narrow shuffle keyed by did for the lead windows
    * (window state is bounded by document length), then map-side-combined
    * counts on (did, gram) — no cross-document state anywhere.
    *
    * Output: (did, n_bi, top_bi_e6, n_g5, dup_g5_e6); documents with fewer
    * than 5 tokens drop out (no 5-grams) — identically in both engines.
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("did").orderBy("pos")
    val led = posTokens(docs)
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
      .withColumn("t3", lead(col("tok"), 3).over(w))
      .withColumn("t4", lead(col("tok"), 4).over(w))
    val bi = led.where(col("t1").isNotNull)
      .groupBy(col("did"), concat_ws(" ", col("tok"), col("t1")).as("g"))
      .agg(count(lit(1)).as("n"))
      .groupBy("did").agg(sum(col("n")).as("n_bi"), max(col("n")).as("top_n"))
    val g5 = led.where(col("t4").isNotNull)
      .groupBy(col("did"),
        concat_ws(" ", col("tok"), col("t1"), col("t2"), col("t3"), col("t4")).as("g"))
      .agg(count(lit(1)).as("n"))
      .groupBy("did").agg(sum(col("n")).as("n_g5"),
        sum(when(col("n") > 1, col("n")).otherwise(0L)).as("dup_n"))
    bi.join(g5, "did")
      .select(col("did"), col("n_bi"), expr("(top_n * 1000000) div n_bi").as("top_bi_e6"),
        col("n_g5"), expr("(dup_n * 1000000) div n_g5").as("dup_g5_e6"))
  }

  /** Top-bigram coverage alone — the repetition signal the curation gate
    * consumes (bigram-only, so docs with 2–4 tokens are kept; the full
    * [[repetitionSignals]] inner-joins the 5-gram aggregate and would drop
    * them — a divergence its own oracle mirrors but the gate's must not).
    */
  def topBigramFrac(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("did").orderBy("pos")
    posTokens(docs).withColumn("t1", lead(col("tok"), 1).over(w))
      .where(col("t1").isNotNull)
      .groupBy(col("did"), concat_ws(" ", col("tok"), col("t1")).as("g"))
      .agg(count(lit(1)).as("n"))
      .groupBy("did").agg(sum(col("n")).as("n_bi"), max(col("n")).as("top_n"))
      .select(col("did"), expr("(top_n * 1000000) div n_bi").as("top_bi_e6"))
  }

  /** Train/eval decontamination by shingle overlap (the n-gram-collision
    * check every published pretraining pipeline runs against its benchmark
    * suite): a training document is contaminated when it shares at least
    * `minShared` distinct shingles with a single eval document.
    *
    * `rows` is the distinct (sid, tok) shingle-row table
    * ([[DedupOps.shingleRows]] — distinct within a doc, so count(*) counts
    * distinct shared shingles); `evalPred` over sid marks the held-out set.
    * The eval side is BROADCAST — benchmark suites are fixed and tiny next
    * to a 100 TB corpus, so the big side never shuffles on the shingle key;
    * the only wide exchange is the (sid, esid) overlap count, whose
    * cardinality is bounded by true near-collisions.
    *
    * Output: (did, eval_partners) for contaminated training docs only.
    */
  def decontaminate(rows: DataFrame, evalPred: Column, minShared: Int): DataFrame = {
    val tr = rows.where(!evalPred)
    val ev = rows.where(evalPred).select(col("sid").as("esid"), col("tok"))
    tr.join(broadcast(ev), "tok")
      .groupBy("sid", "esid").agg(count(lit(1)).as("sh"))
      .where(col("sh") >= minShared)
      .groupBy("sid").agg(count(lit(1)).as("eval_partners"))
      .select(col("sid").as("did"), col("eval_partners"))
  }

  /** Per-document n-gram eval-contamination RATE — the GPT-3 appendix-C
    * measurement (Brown et al. 2020; PaLM reports the same statistic):
    * instead of [[decontaminate]]'s binary per-partner verdict, every
    * training document reports what FRACTION of its distinct n-char
    * windows also occurs anywhere in the eval set, plus the `dirty` flag
    * the published pipelines cut on. Short documents (no full window)
    * surface with n_win = 0 and rate 0, never silently dropped.
    *
    * Shape at scale: one codegen WindowHashes slide per document; the
    * distinct (doc, window-hash) frame materializes ONCE (localCheckpoint
    * — it feeds both the eval-set projection and the train side), the
    * eval window set is BROADCAST (benchmark suites are fixed and tiny
    * next to a 100 TB corpus) so the corpus never shuffles on the window
    * hash, and the per-doc rollup is one map-side-combined aggregate.
    *
    * `evalPred` is a predicate over the `sid` column. Output per training
    * doc: (sid, n_win, n_hit, contam_e6, dirty) — all exact integers.
    */
  def contaminationRate(docs: DataFrame, evalPred: Column, n: Int,
                        dirtyPpm: Long): DataFrame = {
    // duplicate (sid, sub) rows only arise within one document, so dedup is
    // an array_distinct BEFORE the explode — same set, zero shuffle (the
    // row-level distinct exchanged the corpus-sized window frame)
    val win = docs.select(col("doc_id").as("sid"),
        explode(array_distinct(
          graft.functions.WindowHashes.of(col("text"), n))).as("sub"))
      .localCheckpoint(true)
    val ev = win.where(evalPred).select("sub").distinct()
      .withColumn("hit", lit(1L))
    val perDoc = win.where(!evalPred)
      .join(broadcast(ev), Seq("sub"), "left")
      .groupBy("sid").agg(count(lit(1)).as("n_win"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
    docs.select(col("doc_id").as("sid")).where(!evalPred)
      .join(perDoc, Seq("sid"), "left")
      .select(col("sid"),
        coalesce(col("n_win"), lit(0L)).as("n_win"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(expr("n_hit * 1000000 div n_win"), lit(0L)).as("contam_e6"))
      .withColumn("dirty",
        when(col("contam_e6") >= dirtyPpm, 1L).otherwise(0L))
  }

  /** Deterministic domain-mix resampling: keep each document with a
    * per-source target rate, decided by the seeded draw on doc_id
    * ([[Sketches.draw]]: no RNG — reproducible across runs, engines, and
    * cluster sizes; the same construction as the train/val split). Source s gets
    * rate ((s mod 4)+1)/4 here; in production the rates are the mixture
    * weights of the data recipe.
    */
  def domainMixSample(docs: DataFrame): DataFrame = {
    val draw = Sketches.draw(col("doc_id")) % lit(1000L)
    val rate = (expr("cast(substr(source, 4) AS int)") % 4 + 1) * lit(250L)
    docs.where(draw < rate).select(col("doc_id").as("did"), col("source"))
  }

  /** Temperature-scaled domain-mixture weights — w_i ∝ n_i^α at α = 1/2,
    * the standard smoothing of the natural token distribution that
    * upsamples small domains when assembling a training mix (multilingual
    * sampling in Conneau & Lample 2019; the mixture-weight baseline in
    * DoReMi, Xie et al. 2023). Emits per domain: token count, normalized
    * weight (ppm), the sampled-token budget when the mix draws exactly one
    * corpus-worth of tokens, and the implied epoch factor (e6) — >1e6
    * means the domain repeats.
    *
    * Integer-exact across engines: w_i = floor(sqrt(tok_i)) (IEEE-754
    * sqrt is correctly rounded in both engines and token sums < 2^53
    * round-trip the double exactly); everything after is int64 division.
    * The budget uses floor(a·b/c) = (a div c)·b + ((a mod c)·b) div c so
    * no intermediate product overflows: at 10^13 corpus tokens and
    * per-domain w ≈ 3.5e6, the largest term is (t_tot mod sum_w)·w — under
    * sum_w·w ≈ 2.5e14 — while the naive t_tot·w is ~3.5e19 > int64.
    *
    * Shape at scale: one map-side-combined aggregate reduces the corpus to
    * |domains| rows; the normalizer is a broadcast single-row aggregate
    * (scalar attachment, not a product) — one corpus read, nothing
    * corpus-sized shuffles.
    */
  def temperatureMix(toks: DataFrame): DataFrame = {
    val per = toks.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok").cast("long")).as("tok"))
      .where(col("tok") > 0)
      .select(col("source"), col("n_docs"), col("tok"),
        floor(sqrt(col("tok").cast("double"))).cast("long").as("w"))
    val tot = per.agg(sum("w").as("sum_w"), sum("tok").as("t_tot"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("tok"),
        expr("w * 1000000 div sum_w").as("weight_ppm"),
        expr("(t_tot div sum_w) * w + (t_tot % sum_w) * w div sum_w").as("samp_tok"))
      .select(col("source"), col("n_docs"), col("tok"), col("weight_ppm"), col("samp_tok"),
        expr("(samp_tok div tok) * 1000000 + (samp_tok % tok) * 1000000 div tok").as("epochs_e6"))
  }

  /** Fixed-size overlapping document chunking — the retrieval-ingestion
    * splitter (chunk size / stride in characters, the LangChain-style
    * "RecursiveCharacterTextSplitter" reduced to its deterministic core):
    * chunk i covers [1 + i·stride, 1 + i·stride + size), the final chunk
    * runs short, and overlap = size − stride gives retrieval context
    * continuity across boundaries. Emits the chunk md5 (not the text) so
    * the full reconstruction is oracle-checked without shipping every
    * chunk body through the compare — a reassembly bug cannot hide in
    * counts (the d17 residual-md5 idea).
    *
    * Shape at scale: one codegen sequence-explode per doc, chunk count
    * bounded by the doc's own length; no shuffle at all until a consumer
    * aggregates.
    */
  def chunkDocs(docs: DataFrame, size: Int, stride: Int): DataFrame = {
    require(stride > 0 && size >= stride, "need 0 < stride <= size")
    val n = expr(s"(length(text) + ${stride - 1}) div $stride")
    docs.select(col("doc_id").as("did"), col("text"),
        explode(when(length(col("text")) > 0, sequence(lit(0L), n - 1))
          .otherwise(array())).as("chunk_idx"))
      .select(col("did"), col("chunk_idx"),
        (col("chunk_idx") * stride + 1).as("start"),
        expr(s"substring(text, chunk_idx * $stride + 1, $size)").as("chunk"))
      .select(col("did"), col("chunk_idx"), col("start"),
        length(col("chunk")).cast("long").as("clen"),
        md5(col("chunk")).as("chunk_md5"))
  }

  /** Iterative BPE merge TRAINING (Sennrich et al. 2016 §3.2) — the real
    * tokenizer-training loop, not just the k07 one-shot pair count: per
    * round, count adjacent symbol pairs over the word vocabulary (weighted
    * by word frequency), MERGE the most frequent pair corpus-wide into a
    * new symbol, and recount — each round's top pairs are the trained
    * merge table a tokenizer ships.
    *
    * The subtle step is applying a merge left-to-right without overlaps
    * ("aaaa" + merge (a,a) → "aa","aa", not three overlapping merges).
    * Overlapping matches only occur when left == right, where the match
    * positions form RUNS — so the greedy rule is exactly gaps-and-islands
    * (the d14 interval machinery): group consecutive match positions,
    * merge the 1st, 3rd, … of each island, drop their tails, re-rank
    * positions. Fully relational, so the DuckDB twin replays the identical
    * recursion and the trained merge table is oracle-checked bit-for-bit.
    *
    * Shape at scale: the state is the (word, pos, symbol) frame over the
    * DISTINCT vocabulary — bounded by vocabulary size × word length, not
    * corpus size (the corpus is folded into per-word frequencies once).
    * Per round: one lead-window pass (per-word bounded), one
    * map-side-combined pair count, a TakeOrdered top-1 broadcast back, and
    * per-word bounded island windows; the state frame re-materializes each
    * round (localCheckpoint — the k-means/d09 iterative-loop rule).
    *
    * [[MaxWordLen]] is the trainer's pre-tokenization guard (SentencePiece's
    * max_sentencepiece_length, GPT-2's regex splits): an unsegmented blob —
    * a URL, base64 run, or a corpus where the delimiter rarely appears —
    * must not widen the per-word state; overlong "words" are excluded from
    * merge statistics, exactly as the published trainers do. Without it a
    * single 577-char pseudo-word (measured in the 10× gate corpus, whose
    * rotation maps spaces away) multiplies the symbol frame by two orders
    * of magnitude.
    *
    * Output: (round, rank, lhs, rhs, freq) — the top `topM` pairs of each
    * round, of which rank 1 is the merge that round applied.
    */
  def bpeTrain(docs: DataFrame, rounds: Int, topM: Int): DataFrame =
    bpeLoop(docs, rounds, topM)._1.reduce(_.union(_))

  /** Longest word, in characters, that BPE training and segmentation keep. */
  private val MaxWordLen = 32

  /** Vocabulary segmentation after `rounds` trained merges — the ENCODE
    * side of [[bpeTrain]]: each in-vocabulary word's final symbol
    * sequence (space-joined), symbol count, and corpus frequency. This is
    * the artifact a tokenizer's encode path looks up; n_sym vs
    * length(w) is the compression the trained merges bought. Same loop,
    * same state bounds as the trainer.
    */
  def bpeSegments(docs: DataFrame, rounds: Int): DataFrame =
    bpeLoop(docs, rounds, topM = 1)._2
      .groupBy("w", "wf")
      .agg(count(lit(1)).as("n_sym"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(pos, sym))), x -> x.sym)"),
          " ").as("seg"))

  private def bpeLoop(docs: DataFrame, rounds: Int, topM: Int): (Seq[DataFrame], DataFrame) = {
    val words = docs
      .select(explode(filter(split(col("text"), " "), w => length(w) > 0)).as("w"))
      .where(length(col("w")) <= MaxWordLen)
      .groupBy("w").agg(count(lit(1)).as("wf"))
    var rows = words.select(col("w"), col("wf"),
        posexplode(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
          .as(Seq("p0", "sym")))
      .select(col("w"), col("wf"), (col("p0") + 1).cast("long").as("pos"), col("sym"))
      .localCheckpoint(true)
    val perRound = (1 to rounds).map { r =>
      val wW = Window.partitionBy("w").orderBy("pos")
      val withNext = rows.withColumn("nxt", lead(col("sym"), 1).over(wW))
      val pairs = withNext.where(col("nxt").isNotNull)
        .groupBy("sym", "nxt").agg(sum(col("wf")).as("freq"))
      // ≤ topM rows — the round's trained merge-table slice; a local-
      // relation model artifact (Ann.localModel) instead of a checkpoint:
      // feeds the output AND the round's merge with zero extra jobs
      val top = Ann.localModel(
        pairs.orderBy(col("freq").desc, col("sym"), col("nxt")).limit(topM)
          .withColumn("rank", row_number().over(
            Window.partitionBy(lit(0)).orderBy(col("freq").desc, col("sym"), col("nxt")))),
        topM)
      val t1 = top.where(col("rank") === 1)
        .select(col("sym").as("ml"), col("nxt").as("mr"))
      val marked = withNext.crossJoin(broadcast(t1))
        .withColumn("m", col("nxt").isNotNull &&
          col("sym") === col("ml") && col("nxt") === col("mr"))
        .localCheckpoint(true) // feeds the island pass AND the rebuild
      val heads = marked.where(col("m"))
        .withColumn("grp", col("pos") - row_number().over(wW))
        .withColumn("ii", row_number().over(
          Window.partitionBy(col("w"), col("grp")).orderBy(col("pos"))))
        .where(col("ii") % 2 === 1)
        .select(col("w").as("hw"), col("pos").as("hpos"))
      rows = marked
        .join(heads.select(col("hw"), col("hpos"), lit(1).as("is_head")),
          col("w") === col("hw") && col("pos") === col("hpos"), "left")
        .drop("hw", "hpos")
        .join(heads.select(col("hw"), col("hpos"), lit(1).as("is_tail")),
          col("w") === col("hw") && col("pos") === col("hpos") + 1, "left")
        .where(col("is_tail").isNull)
        .select(col("w"), col("wf"), col("pos"),
          when(col("is_head") === 1, concat(col("ml"), col("mr")))
            .otherwise(col("sym")).as("sym"))
        .withColumn("pos", row_number().over(wW).cast("long"))
        .localCheckpoint(true)
      top.select(lit(r).as("round"), col("rank"),
        col("sym").as("lhs"), col("nxt").as("rhs"), col("freq"))
    }
    (perRound, rows)
  }

  /** Data-constrained epoch schedule (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models"): given a token budget of
    * `budgetX` corpus-worths, allocate it across sources by the k12
    * temperature weights (w = floor(sqrt(tok))), then CAP each source at
    * `capEpochs` passes over its unique tokens — the paper's central
    * finding is that repeating data is near-free up to ~4 epochs and
    * rapidly decays after, so a mixture planner clips there rather than
    * letting upweighted small domains spin. Per source: raw allocation,
    * capped allocation, epochs (e6), the unique/repeated token split the
    * scaling law consumes, and the capped flag.
    *
    * Integer-exact: the raw allocation uses the overflow-safe
    * floor(a·b/c) = (a div c)·b + ((a mod c)·b) div c identity (B·w would
    * pass int64 at real token counts); everything else is int64
    * min/div. Shape at scale: one map-side-combined aggregate to
    * |sources| rows, a broadcast single-row normalizer — nothing
    * corpus-sized moves.
    */
  def epochSchedule(toks: DataFrame, budgetX: Int, capEpochs: Int): DataFrame = {
    val per = toks.groupBy("source")
      .agg(sum(col("n_tok").cast("long")).as("tok"))
      .where(col("tok") > 0)
      .select(col("source"), col("tok"),
        floor(sqrt(col("tok").cast("double"))).cast("long").as("w"))
    val tot = per.agg(sum("w").as("sum_w"), sum("tok").as("t_tot"))
    per.crossJoin(broadcast(tot))
      .withColumn("budget", col("t_tot") * budgetX)
      .withColumn("alloc_raw",
        expr("(budget div sum_w) * w + (budget % sum_w) * w div sum_w"))
      .withColumn("alloc", least(col("alloc_raw"), col("tok") * capEpochs))
      .select(col("source"), col("tok"), col("w"), col("alloc_raw"), col("alloc"),
        expr("(alloc div tok) * 1000000 + (alloc % tok) * 1000000 div tok")
          .as("epochs_e6"),
        least(col("alloc"), col("tok")).as("unique_tok"),
        (col("alloc") - least(col("alloc"), col("tok"))).as("repeated_tok"),
        when(col("alloc_raw") > col("tok") * capEpochs, 1L).otherwise(0L)
          .as("capped"))
  }

  /** Character-trigram corpus-familiarity score (the CCNet quality-bucket
    * idea with an integer frequency table as the LM): the corpus's global
    * trigram counts are the model; a document scores the mean corpus
    * frequency of its own trigrams (common prose scores high, gibberish
    * and binary spill score low). Emitted as micro-units via integer
    * division — bit-exact in both engines.
    *
    * Shape at scale: the trigram table is bounded by |charset|³, not by
    * corpus size — it broadcasts; the corpus makes two codegen'd passes
    * (count, then score) with map-side combine on both aggregates.
    */
  def lmFamiliarity(docs: DataFrame): DataFrame = {
    // one linear WindowHashes slide per doc instead of 3 substr+ascii nodes
    // per exploded position. With n = 3 the unmodded base-31 code-point
    // fold peaks at ((0x10FFFF·31)+0x10FFFF)·31+0x10FFFF ≈ 1.1e9 and the
    // slide's intermediates at ≈ 3.4e10, so a modulus far above that is
    // NEVER taken and the slide equals the exact polynomial — bit-identical
    // to the oracle's ((a0·31+a1)·31+a2) ascii fold (code points, like the
    // chain's `ascii(substr(...))` — the FingerprintPropSpec-pinned unit).
    // The length<3 guard is the expression's own empty-array-for-short-
    // strings behavior; explode drops those docs identically.
    // materialized once: `tri` feeds the LM count AND the score join — an
    // unmaterialized plan re-runs the corpus trigram explode for each consumer
    // (two full corpus scans at 100 TB where one pass suffices)
    val tri = docs
      .select(col("doc_id").as("did"),
        explode(graft.functions.WindowHashes.of(col("text"), 3,
          1000000000000000003L)).as("g"))
      .localCheckpoint(true)
    val lm = tri.groupBy("g").agg(count(lit(1)).as("cnt"))
    tri.join(broadcast(lm), "g")
      .groupBy("did").agg(sum(col("cnt")).as("s"), count(lit(1)).as("n"))
      .select(col("did"), expr("(s * 1000000) div n").as("fam_e6"))
  }

  /** Cross-document repeated-substring detection (the signal behind
    * substring-level dedup, Lee et al. 2022 "Deduplicating Training Data
    * Makes Language Models Better", here over hashed fixed-width windows
    * instead of a suffix array): every n-char window is hashed (base-31
    * fold, mod 1e9+7 at each step so any n stays in int64), counted once
    * per document, and hashes appearing in ≥ minDocs documents surface
    * with their document count. One codegen'd pass + two map-side-combined
    * aggregates — no cross-document joins at any scale.
    */
  def repeatedSubstrings(docs: DataFrame, n: Int, minDocs: Int): DataFrame = {
    // one linear codegen pass per doc (WindowHashes slide) instead of an
    // n-node substr chain per position — same hash values, same oracle
    // per-doc array_distinct replaces the corpus-wide (sid, sub) distinct
    // exchange — duplicates only exist within a document (see shingleRows)
    docs.select(col("doc_id").as("sid"),
        explode(array_distinct(
          graft.functions.WindowHashes.of(col("text"), n))).as("sub"))
      .groupBy("sub").agg(count(lit(1)).as("n_docs"), min(col("sid")).as("first_sid"))
      .where(col("n_docs") >= minDocs)
  }

  /** Doc-level memorization-risk score (the document aggregation of the
    * Lee et al. 2022 substring-duplication signal that d12 reports at the
    * window level): the fraction of a document's distinct n-char windows
    * that also occur in at least minDocs documents, in e6 microunits. A
    * document scoring high is mostly boilerplate shared with the rest of
    * the corpus — the memorization-risk / quality-prune signal.
    *
    * Shape at scale: the distinct (doc, window-hash) frame materializes
    * ONCE (localCheckpoint) and feeds both the per-hash count and the
    * score join — the t08 lesson. Unlike the charset³-bounded LM table,
    * the count side is corpus-sized, so the join is a hash equi-join on
    * the window hash (both sides partition on it), then one map-side
    * combined aggregate back to doc grain. Docs too short to hold a
    * window surface with n_win = 0, not silently dropped.
    */
  def substringNovelty(docs: DataFrame, n: Int, minDocs: Int): DataFrame = {
    // one linear codegen pass per doc (WindowHashes slide) instead of an
    // n-node substr chain per position — same hash values, same oracle
    // per-doc array_distinct replaces the corpus-wide (sid, sub) distinct
    // exchange — duplicates only exist within a document (see shingleRows)
    val win = docs.select(col("doc_id").as("sid"),
        explode(array_distinct(
          graft.functions.WindowHashes.of(col("text"), n))).as("sub"))
      .localCheckpoint(true)
    val cnt = win.groupBy("sub").agg(count(lit(1)).as("nd"))
    val perDoc = win.join(cnt, "sub")
      .groupBy("sid")
      .agg(count(lit(1)).as("n_win"),
        sum(when(col("nd") >= minDocs, 1L).otherwise(0L)).as("n_shared"))
    docs.select(col("doc_id").as("sid"))
      .join(perDoc, Seq("sid"), "left")
      .select(col("sid"),
        coalesce(col("n_win"), lit(0L)).as("n_win"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(expr("n_shared * 1000000 div n_win"), lit(0L)).as("shared_e6"))
  }

  /** Cross-document duplicated-SPAN extraction — the interval step of
    * exact substring deduplication (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): positions whose n-char
    * window also occurs in ≥ minDocs documents are merged into maximal
    * character intervals (two shared positions belong to one span when
    * their windows overlap or touch, i.e. the position gap is ≤ n), and
    * each document reports its span count, duplicated-character total, and
    * duplicated-coverage fraction — the signal that decides whether a
    * document is excised span-by-span or dropped whole.
    *
    * Shape at scale: one linear WindowHashes pass per document (codegen),
    * a map-side-combined count on the window hash (both sides of the
    * shared-position join partition on that hash — no skew: hashes are
    * near-uniform), then per-document gaps-and-islands windows whose state
    * is bounded by the document's own length, never the corpus. The
    * distinct (doc, hash, pos) frame materializes once (localCheckpoint)
    * and feeds both the count and the join — the t08/t11 lesson.
    *
    * Differs from [[substringNovelty]] (per-window share, no structure)
    * exactly by the interval merge: novelty says "how much is shared",
    * spans say "where, and in how many contiguous pieces".
    */
  /** Cross-document LINE-level exact dedup — RefinedWeb/CCNet's terminal
    * line dedup, the line-structured sibling of the window ([[duplicatedSpans]])
    * and whole-doc forms: a line appearing in MORE than `maxDocFreq`
    * distinct documents is boilerplate (headers, footers, cookie banners)
    * and is excised from every document; per document the operator reports
    * line counts and the md5 of the line-order-preserving residual text
    * (strong value check — a reconstruction bug cannot hide in counts).
    *
    * Shape at scale: one explode per doc, a distinct + map-side-combined
    * count keyed on a FIXED-WIDTH line hash (md5 — never the raw line
    * string: a hot boilerplate line ("accept cookies…", a site footer)
    * is simultaneously the most frequent shuffle key and an unboundedly
    * long one, so keying the distinct/count/join on the text would funnel
    * every occurrence's full line bytes through one partition), one
    * equi-join of the line rows back against that frequency table (sizes
    * are corpus-driven — Catalyst picks broadcast vs shuffle by stats; the
    * raw text rides only the per-doc side for the residual reassembly),
    * and one per-doc aggregate; the residual reassembly sorts only within
    * one document's collected lines. No pairwise comparison, no window
    * over the corpus.
    *
    * framed: (did, raw) with '\n' line separators.
    */
  def lineDedup(framed: DataFrame, maxDocFreq: Long): DataFrame = {
    val lines = framed.select(col("did"),
      posexplode(split(col("raw"), "\n")).as(Seq("idx", "line")))
      .withColumn("lh", md5(col("line")))
    // duplicate (did, lh) rows only arise when a line repeats WITHIN one
    // document, so the doc-frequency dedup is an array_distinct over the
    // per-doc line-hash array before the explode — same (did, lh) set with
    // no corpus-wide distinct exchange; the count on the fixed-width hash
    // then combines map-side as before. Per-doc set state is bounded by
    // the document's own line count at any scale.
    val ldf = framed.select(col("did"),
        explode(array_distinct(transform(split(col("raw"), "\n"),
          l => md5(l)))).as("lh"))
      .groupBy("lh").agg(count(lit(1)).as("ldf"))
    lines.join(ldf, "lh")
      .groupBy("did").agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("ldf") <= maxDocFreq, 1L).otherwise(0L)).as("kept"),
        sum(when(col("ldf") > maxDocFreq, 1L).otherwise(0L)).as("dropped"),
        // collect_list skips the nulls the `when` leaves for dropped lines;
        // the per-doc sort restores line order before the reassembly
        md5(concat_ws("\n", transform(
          array_sort(collect_list(when(col("ldf") <= maxDocFreq,
            struct(col("idx"), col("line"))))),
          x => x.getField("line")))).as("residual_md5"))
  }

  def duplicatedSpans(docs: DataFrame, n: Int, minDocs: Int): DataFrame = {
    val win = docs.select(col("doc_id").as("sid"), col("n_chars"),
        posexplode(graft.functions.WindowHashes.of(col("text"), n)).as(Seq("pos", "sub")))
      .localCheckpoint(true)
    val cnt = win.select("sid", "sub").distinct()
      .groupBy("sub").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= minDocs)
    val wOrd = Window.partitionBy("sid").orderBy("pos")
    val spans = win.join(cnt, "sub")
      .select(col("sid"), col("n_chars"), col("pos"))
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(wOrd) > n, 1).otherwise(0))
      .withColumn("grp", sum("brk").over(wOrd))
      .groupBy("sid", "n_chars", "grp")
      .agg(min("pos").as("s"), max("pos").as("e"))
    val perDoc = spans.groupBy("sid", "n_chars")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + lit(n.toLong)).as("dup_chars"))
    docs.select(col("doc_id").as("sid"), col("n_chars"))
      .join(perDoc, Seq("sid", "n_chars"), "left")
      .select(col("sid"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        coalesce(expr("dup_chars * 1000000 div n_chars"), lit(0L)).as("cover_e6"))
  }

  /** Deterministic stratified per-source sample: the k docs per source
    * with the smallest hash draw (the uniform-without-replacement sample
    * every pipeline keeps for eyeballing and eval carve-outs), draw ties
    * broken on doc_id. A direct `Window.partitionBy(source)` rank would
    * sort each source's full partition in one task — sources are the
    * archetypal hot key (20 values here, few thousand at real scale). The
    * salted two-level rank instead ([[Ann.saltedTopK]], salted by doc_id)
    * — identical output, bounded final window.
    */
  def stratifiedSample(docs: DataFrame, k: Int): DataFrame = {
    val base = docs.select(col("source"), col("doc_id"), Sketches.draw(col("doc_id")).as("__d"))
    Ann.saltedTopK(base, col("source"), col("doc_id"), Seq(col("__d"), col("doc_id")), k)
      .select(col("source"), col("doc_id").as("did"), col("__d").as("draw"), col("rank"))
  }

  /** Adjacent character-pair frequencies within words — the counting step
    * of BPE vocabulary induction (Sennrich et al. 2016): top `topN` pairs
    * by global frequency. Partial top-k via orderBy+limit
    * (TakeOrderedAndProject — every task merges its local top, no global
    * sort); the rank window then runs over only the topN survivors.
    */
  def bpePairs(docs: DataFrame, topN: Int): DataFrame = {
    val pairs = docs
      .select(explode(filter(split(col("text"), " "), w => length(w) > 0)).as("w"))
      .where(length(col("w")) >= 2)
      .select(col("w"), explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(2)).as("pair"))
    val freq = pairs.groupBy("pair").agg(count(lit(1)).as("freq"))
    freq.orderBy(col("freq").desc, col("pair")).limit(topN)
      .withColumn("rank", row_number().over(Window.orderBy(col("freq").desc, col("pair"))))
  }

  /** Exact per-source length quantiles (the dataset-statistics report of a
    * curation run). Spark's `percentile` buffers a value→count map per
    * group: safe at any corpus size HERE because n_chars has a small,
    * bounded value domain (the map is value-bounded, not row-bounded) —
    * for unbounded domains switch to a fixed-width histogram first.
    */
  def lengthQuantiles(docs: DataFrame): DataFrame =
    docs.groupBy("source").agg(
      round(expr("percentile(n_chars, 0.25)") * 1e6).cast("long").as("p25_e6"),
      round(expr("percentile(n_chars, 0.5)") * 1e6).cast("long").as("p50_e6"),
      round(expr("percentile(n_chars, 0.9)") * 1e6).cast("long").as("p90_e6"),
      round(expr("percentile(n_chars, 0.99)") * 1e6).cast("long").as("p99_e6"),
      count(lit(1)).as("docs"))

  /** Deterministic training-order shuffle: a multiplicative-hash key
    * permutes the corpus, `nBuckets` range-buckets the permuted order
    * (bucket count scales with the corpus — each rank window holds
    * corpus/nBuckets rows, the standard sorted-bucket-writer layout), and
    * the within-bucket rank is the file-local write order. Reading buckets
    * in (bucket, ord) order replays one fixed global shuffle — stable
    * across runs, engines, and cluster sizes, unlike RNG-based shuffles.
    */
  def trainOrder(docs: DataFrame, nBuckets: Int): DataFrame = {
    // ties across the 1e6 key space break on doc_id
    val key = Sketches.draw(col("doc_id"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("key"), col("doc_id"))
    docs.select(col("doc_id"), key.as("key"), (key % nBuckets).as("bucket"))
      .withColumn("ord", row_number().over(w))
      .select("doc_id", "bucket", "ord", "key")
  }

  /** Data selection under a token budget: keep the highest-quality
    * documents until ~`num/den` of the corpus tokens are selected. The
    * quality score is integer-banded (0..100), so the selection threshold
    * falls out of a cumulative sum over the ≤101-row band aggregate — a
    * window over a VALUE-DOMAIN-bounded frame, never over the corpus.
    * Bands above the threshold are taken whole; inside the boundary band a
    * proportional hash cut fills the remainder (budget met to within the
    * band's draw variance — exact per-doc prefix sums would serialize a
    * corpus-fraction per task, and a training-mix budget is a target, not
    * an invariant).
    *
    * `scored`: (did, quality, n_tok). Output: the selected rows.
    */
  def tokenBudgetSelect(scored: DataFrame, num: Int, den: Int): DataFrame = {
    val bands = scored.groupBy("quality").agg(sum(col("n_tok")).as("band_toks"))
    val tot = scored.agg(sum(col("n_tok")).as("total"))
    val wCum = Window.orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bands.crossJoin(broadcast(tot))
      .withColumn("budget", expr(s"(total * $num) div $den"))
      .withColumn("cum", sum(col("band_toks")).over(wCum))
    // full bands: cumulative fits the budget; boundary: the first that spills
    val fullAgg = cum.where(col("cum") <= col("budget"))
      .agg(min(col("quality")).as("qstar"), max(col("cum")).as("used"))
    val boundary = cum.where(col("cum") > col("budget"))
      .orderBy(col("quality").desc).limit(1)
      .select(col("quality").as("bq"), col("band_toks").as("btoks"), col("budget"))
    // fullAgg always has exactly one row (global agg); boundary has 0 or 1 —
    // left join so a budget that covers the whole corpus still selects all
    val cut = fullAgg.join(boundary, lit(true), "left")
      .select(col("bq"), col("qstar"),
        expr("((budget - coalesce(used, 0)) * 1000000) div btoks").as("rate_e6"))
    val draw = Sketches.draw(col("did")) % lit(1000000L)
    scored.crossJoin(broadcast(cut))
      .where((col("qstar").isNotNull && col("quality") >= col("qstar")) ||
        (col("quality") === col("bq") && draw < col("rate_e6")))
      .select("did", "quality", "n_tok")
  }

  /** Per-source token-distribution drift vs the whole corpus, as an
    * integer-exact total-variation distance: TV(s) = Σ_t |p_s(t) − p(t)|/2
    * computed cross-multiplied — |c_st·N − C_t·n_s| over int64, summed,
    * then one integer division into micro-units — so no double ever sums
    * through an unordered aggregate. Tokens absent from a source
    * contribute C_t·n_s via the closed form (N − cov_s)·n_s rather than a
    * dense join. The global token table is domain-bounded (the 2^15 hash
    * space) → broadcast; safe for corpora up to ~2^31 tokens per side of
    * the product (shard the corpus beyond that).
    *
    * The data-mix diagnostic: a source whose distribution drifts from the
    * mix (TV → 1) is over-represented boilerplate or off-domain spill.
    */
  def sourceDrift(toks: DataFrame): DataFrame = {
    val st = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val srcTot = st.groupBy("source").agg(sum(col("c")).as("ns"))
    val glob = st.groupBy("tok").agg(sum(col("c")).as("ct"))
    val tot = glob.agg(sum(col("ct")).as("n"))
    st.join(broadcast(glob), "tok").join(srcTot, "source").crossJoin(broadcast(tot))
      .groupBy("source")
      .agg(sum(abs(col("c") * col("n") - col("ct") * col("ns"))).as("l1_present"),
        sum(col("ct")).as("cov"), min(col("ns")).as("ns"), min(col("n")).as("n"))
      .select(col("source"),
        expr("((l1_present + (n - cov) * ns) * 1000000) div (2 * n * ns)").as("tv_e6"))
  }

  /** DSIR feature shape: char n-gram length and hash-bucket count. */
  private val DsirN = 8
  private val DsirBuckets = 1024

  /** DSIR-style importance scoring for target-domain data selection
    * (Xie et al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): documents from the raw pool are scored by how much
    * their hashed n-gram feature profile resembles a target domain's, and
    * the top-k scores are the selection. Features are the same base-31
    * char n-gram window hashes the dedup stack uses (one linear codegen
    * WindowHashes pass per document) of [[DsirN]] chars, bucketed into
    * [[DsirBuckets]] hash features; both bag-of-features models (target
    * vs raw) are fit with Laplace +1 smoothing.
    *
    * The paper scores by the log-likelihood ratio Σ_f log p_t(f)/p_r(f);
    * `ln` is not bit-stable across engines (libm vs StrictMath), so the
    * score here is the ln-free linear-discriminant surrogate
    * Σ_f (p_t(f) − p_r(f)) in exact 1e-9 integer units — the same
    * deterministic-surrogate move as the rational idf in bm25TopK. Each
    * per-bucket weight floor((ct+1)·1e9/(Ct+B)) − floor((cr+1)·1e9/(Cr+B))
    * stays in int64 while the model is fit on ≤ ~9e9 feature occurrences
    * (ct ≤ Ct ⇒ the product is ≤ (Ct+B)·1e9); at 100 TB the fit side is a
    * deterministic sample of the pool — exactly the paper's setup, which
    * fits its raw model on a subset — while the scoring pass below runs
    * over the full corpus unchanged.
    *
    * Shape at scale: the feature frame materializes ONCE (localCheckpoint;
    * it feeds both the model fit and the per-doc counts), the model is a
    * ≤ DsirBuckets-row frame attached by broadcast join, per-doc counts are
    * one map-side-combined aggregate on (doc, bucket), and the selection
    * is TakeOrderedAndProject — no corpus-sized sort, no cross-document
    * join anywhere. Raw docs too short to hold a window surface with
    * n_feat = 0 (score 0), not silently dropped: a selection operator must
    * rank every candidate.
    */
  def dsirSelect(docs: DataFrame, targetPred: Column, topK: Int): DataFrame = {
    val (n, buckets) = (DsirN, DsirBuckets)
    val S = 1000000000L
    val feats = docs.select(col("doc_id").as("did"), targetPred.as("is_t"),
        explode(graft.functions.WindowHashes.of(col("text"), n)).as("h"))
      .select(col("did"), col("is_t"), (col("h") % lit(buckets)).as("b"))
      .localCheckpoint(true)
    // model fit: per-bucket target/raw occurrence counts (tiny: ≤ buckets
    // rows) — checkpointed because totals + weights both consume it
    val model = feats.groupBy("b")
      .agg(sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("is_t"), 0L).otherwise(1L)).as("cr"))
      .localCheckpoint(true)
    val tot = model.agg(sum(col("ct")).as("ctot"), sum(col("cr")).as("crot"))
    val wts = model.crossJoin(broadcast(tot))
      .select(col("b"),
        expr(s"((ct + 1) * ${S}L) div (ctot + $buckets) - ((cr + 1) * ${S}L) div (crot + $buckets)").as("wt"))
    val cnts = feats.where(!col("is_t")).groupBy("did", "b").agg(count(lit(1)).as("c"))
    val sc = cnts.join(broadcast(wts), "b")
      .groupBy("did")
      .agg(sum(col("c") * col("wt")).as("score"), sum(col("c")).as("n_feat"))
    docs.where(!targetPred).select(col("doc_id").as("did"))
      .join(sc, Seq("did"), "left")
      .select(col("did"),
        coalesce(col("n_feat"), lit(0L)).as("n_feat"),
        coalesce(col("score"), lit(0L)).as("score"))
      .orderBy(col("score").desc, col("did"))
      .limit(topK)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): per source
    * (standing in for CCNet's per-language split), documents are cut into
    * head / middle / tail thirds by the corpus-LM familiarity score
    * ([[lmFamiliarity]] — the integer stand-in for KenLM perplexity, higher
    * = more familiar = head), and each (source, bucket) reports its doc
    * count, char mass, and familiarity range — the partition CCNet feeds
    * to downstream sampling (train mostly on head+middle, audit tail).
    *
    * Bucket boundaries are per-source exact percentiles of the score (the
    * k08 recipe: Spark `percentile` ≡ DuckDB `quantile_cont`, identical
    * linear interpolation; the 1/3 and 2/3 constants are interpolated into
    * both engines' SQL from the same Scala doubles). Thresholds attach by
    * broadcast — no corpus-sized window sort per source, which at 100 TB
    * would put a whole source's docs through one partition; the percentile
    * aggregate combines map-side. Documents too short to score (len < 3,
    * no trigram) are excluded, like CCNet's undefined-perplexity pages.
    */
  def pplBuckets(docs: DataFrame): DataFrame = {
    val pLo = 1.0 / 3
    val pHi = 2.0 / 3
    val scored = docs.select(col("doc_id").as("did"), col("source"), col("n_chars"))
      .join(lmFamiliarity(docs), "did")
      .localCheckpoint(true) // feeds thresholds AND bucketing
    val thr = scored.groupBy("source").agg(
      round(expr(s"percentile(fam_e6, $pLo)")).cast("long").as("t_lo"),
      round(expr(s"percentile(fam_e6, $pHi)")).cast("long").as("t_hi"))
    scored.join(broadcast(thr), "source")
      .withColumn("bucket",
        when(col("fam_e6") >= col("t_hi"), "head")
          .when(col("fam_e6") >= col("t_lo"), "middle")
          .otherwise("tail"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("fam_e6")).as("min_fam"), max(col("fam_e6")).as("max_fam"))
  }

  /** Gap-based sessionization over an event stream (batch form): a new
    * session starts when a user's inter-event gap exceeds `gapSec`.
    * Per-user lag + running sum — window state bounded by one user's
    * events; money stays in integer cents from the first projection.
    * Output: one row per (user_id, sess) with span and totals.
    */
  def sessionize(events: DataFrame, gapSec: Long): DataFrame = {
    val ev = events.select(col("user_id"), col("event_id"),
      unix_micros(col("ts").cast("timestamp")).as("us"),
      round(col("value") * 100).cast("long").as("cents"))
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("new_sess",
        when(col("us") - lag(col("us"), 1).over(w) > lit(gapSec * 1000000L), 1L).otherwise(0L))
      .withColumn("sess", sum(col("new_sess")).over(run))
      .groupBy("user_id", "sess")
      .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"),
        count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
  }
}
