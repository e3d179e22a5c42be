package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables
import graft.ops.{Ann, DedupOps, Multimodal, Retrieval, Sketches, TextOps}
import graft.ops.Sketches.{drawSql, hSql, signBitsSql}
import graft.Oracles._
import graft.SparkEntry.Q

/** Training-data pipeline queries: deduplication (exact, MinHash-LSH,
  * SimHash, n-gram Jaccard, embedding-cosine), similarity search (brute
  * force + LSH-bucketed ANN), text analysis, multimodal plumbing.
  */
object QueriesOps {

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private def emb(s: SparkSession, dir: String) = Tables.embeddings(s, dir)

  /** Oracle CTE chain for [[Ann.kmeansSketch]] (k = 16, 2 iterations): iterations
    * unrolled (asn1→cent1→asn2→cent2→asn3), centroids as exact int64 sums,
    * scores as the identical left-assoc double chains. Shared by i03 (the
    * assignment itself) and d11 (SemDeDup pruning on top of it).
    */
  private lazy val kmeansCtes: Seq[String] = {
    val centCols = (0 until 32).map(t => s"s$t AS c$t").mkString(", ")
    val dot = (0 until 32).map(t => s"cast(k.s$t AS double)*c.c$t").mkString(" + ")
    val cnorm = (0 until 32).map(t => s"cast(c.c$t AS double)*c.c$t").mkString(" + ")
    val sums = (0 until 32).map(t => s"cast(sum(s$t) AS bigint) AS c$t").mkString(", ")
    def asn(cent: String, name: String): String =
      s"""$name AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT k.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY k.vec_id
         |        ORDER BY ($dot) / sqrt($cnorm) DESC, c.cid) AS r
         |    FROM sk k CROSS JOIN $cent c) WHERE r = 1)""".stripMargin
    def cent(asnName: String, name: String): String =
      s"$name AS (SELECT cid, $sums FROM $asnName JOIN sk USING (vec_id) GROUP BY cid)"
    Seq(EmbCte, SkCte,
      s"cent0 AS (SELECT vec_id AS cid, $centCols FROM sk WHERE vec_id % 13 = 7 ORDER BY vec_id LIMIT 16)",
      asn("cent0", "asn1"), cent("asn1", "cent1"),
      asn("cent1", "asn2"), cent("asn2", "cent2"),
      asn("cent2", "asn3"))
  }

  /** SQL twin of TextOps.langIdHeuristic (shared by t01 and the t09
    * curation-gate composition).
    */
  private lazy val LangPredSql: String = {
    val noVowel = "replace(replace(replace(replace(replace(text,'a',''),'e',''),'i',''),'o',''),'u','')"
    s"""CASE WHEN ((length(text) - length(replace(text, 'the ', ''))) / 4 * 3
       |           + (length(text) - length(replace(text, ' and ', ''))) / 5 * 3)
       |          / greatest(length(text)*1.0, 1.0) > 0.01 THEN 'en'
       |       WHEN (length(text) - length($noVowel)) / greatest(length(text)*1.0, 1.0) > 0.32 THEN 'es'
       |       WHEN (length(text) - length($noVowel)) / greatest(length(text)*1.0, 1.0) > 0.28 THEN 'fr'
       |       WHEN (length(text) - length($noVowel)) / greatest(length(text)*1.0, 1.0) > 0.24 THEN 'de'
       |       ELSE 'zh' END""".stripMargin
  }

  /** SQL twin of TextOps.qualityScore (shared by t02 and t09). */
  private lazy val QualitySql: String = {
    val words = "greatest(len(list_filter(string_split(text, ' '), w -> length(w) > 0)), 1)"
    val noPunct = "replace(replace(replace(replace(replace(replace(text,'.',''),',',''),'!',''),'?',''),';',''),':','')"
    s"""cast(floor(
       |    (CASE WHEN length(text) >= 200 AND length(text) <= 5000 THEN 40.0
       |          WHEN length(text) >= 50 THEN 25.0 ELSE 5.0 END)
       |  + (CASE WHEN (length(text)*1.0 - ($words - 1)) / $words >= 3.0
       |           AND (length(text)*1.0 - ($words - 1)) / $words <= 9.0 THEN 30.0 ELSE 10.0 END)
       |  + (CASE WHEN ((length(text) - length(replace(text,'the','')))/3
       |             + (length(text) - length(replace(text,'a ','')))/2) * 1.0 / $words >= 0.05
       |           AND ((length(text) - length(replace(text,'the','')))/3
       |             + (length(text) - length(replace(text,'a ','')))/2) * 1.0 / $words <= 0.6 THEN 30.0 ELSE 10.0 END)
       |  - (length(text) - length($noPunct)) * 1.0 / greatest(length(text)*1.0, 1.0) * 100.0
       |  ) AS bigint)""".stripMargin
  }

  /** documents ∪ re-id'd copies of every 10th doc — gives exact-dup groups
    * to detect (the raw table has no exact duplicates).
    */
  private def docsWithDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.unionByName(d.where(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000000000L)))
  }

  /** Codegen'd (sid, tok) shingle rows — same values as
    * DedupOps.shingleTokens with no interpreted HOF in the plan (see
    * DedupOps.shingleRows); the repartition fans the often-single-file doc
    * read out to all cores before the explode (at cluster scale the input
    * arrives pre-split).
    */
  private def shingleRows(s: SparkSession, dir: String, dedup: Boolean = true): DataFrame =
    DedupOps.shingleRows(
      docs(s, dir).repartition(s.sparkContext.defaultParallelism), "doc_id", "text", 8, dedup)

  private val DupCte =
    """dd AS (
      |  SELECT * FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000000000 AS doc_id, text, lang, source, n_chars
      |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** Fixed BM25 query for i06 — mid-frequency corpus terms so scores vary
    * across docs; shared by the Spark query and its DuckDB twin.
    */
  private val Bm25Terms: Seq[String] = Seq("hash", "merge", "window", "spark")

  /** Shared closure CTE chain for d09/d16: transitive closure over the
    * GROUP graph (signature-identical docs collapse to one node — equal
    * 16-minhash signatures are automatically a pairwise LSH clique, and the
    * corpus's ~500-doc near-dup families make any doc-level closure
    * O(clique³) in the oracle engine). Ends at `greach`; consumers append
    * their final SELECT (and further CTEs via a leading comma).
    */
  private lazy val ClusterCtes: String = clusterCtes()

  /** The group-graph closure CTE stack over a configurable corpus CTE:
    * `pre` (optional, e.g. the d19 verbatim-family rewrite) precedes the
    * shingle CTE, which reads from `shingSrc`.
    */
  private def clusterCtes(pre: String = "", shingSrc: String = "documents"): String =
    "WITH RECURSIVE " + (if (pre.isEmpty) "" else pre + ",\n") +
    Seq(Oracles.shingCteOver(shingSrc), SigCte, BandsCte, PairsCte).mkString(",\n") +
    """,
      |nodes AS (SELECT DISTINCT sid FROM (
      |  SELECT doc_a AS sid FROM spairs UNION ALL SELECT doc_b FROM spairs)),
      |sgrp AS (
      |  SELECT s.sid, min(s.sid) OVER (
      |    PARTITION BY m0, m1, m2, m3, m4, m5, m6, m7,
      |                 m8, m9, m10, m11, m12, m13, m14, m15) AS gid
      |  FROM ssig s JOIN nodes n ON n.sid = s.sid),
      |gedges AS (
      |  SELECT DISTINCT ga.gid AS src, gb.gid AS dst
      |  FROM spairs p
      |  JOIN sgrp ga ON ga.sid = p.doc_a
      |  JOIN sgrp gb ON gb.sid = p.doc_b
      |  WHERE ga.gid <> gb.gid),
      |gboth AS (SELECT src, dst FROM gedges
      |  UNION ALL SELECT dst, src FROM gedges),
      |greach(gid, l) AS (
      |  SELECT gid, gid FROM (SELECT DISTINCT gid FROM sgrp)
      |  UNION
      |  SELECT e.dst, greach.l FROM greach JOIN gboth e ON e.src = greach.gid)""".stripMargin

  /** a04's sketch-scan → histogram-threshold → candidate CTE chain, shared
    * verbatim by the a04 oracle and the i09 recall-harness twin.
    */
  private val A04Ctes: Seq[String] = Seq(
    s"""sc AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    cast(floor((${skCosSql("q", "c")}) * 1000000) AS bigint) AS ski
       |  FROM sk q JOIN sk c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10)""".stripMargin,
    Ann.cutSql("sc", "ski", 5, descending = true),
    """cand AS (
      |  SELECT sc.q_id, sc.c_id FROM sc JOIN thr USING (q_id)
      |  WHERE sc.ski >= thr.thr)""".stripMargin)

  /** a03's coarse-centroid + assignment-rank CTE chain, shared verbatim by
    * the a03 oracle and the i11 cell-balance twin.
    */
  private val A03AsnCtes: Seq[String] = {
    def chain(f: Int => String) = (0 until 32).map(f).mkString(" + ")
    val dot = chain(t => s"k.s$t*c.c$t")
    val cnorm = chain(t => s"c.c$t*c.c$t")
    val centCols = (0 until 32).map(t => s"s$t AS c$t").mkString(", ")
    Seq(
      s"""cent AS (SELECT vec_id AS cid, $centCols FROM sk
         |  WHERE vec_id % 13 = 7 ORDER BY vec_id LIMIT 256)""".stripMargin,
      s"""asn AS (
         |  SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cast(($dot) AS double)/sqrt(cast(($cnorm) AS double)) DESC, cid) AS cr
         |  FROM sk k CROSS JOIN cent c)""".stripMargin)
  }

  /** a06's PQ CTE chain (twin of Ann.pqCodesAndTable): microunit vectors
    * e6, the 16-entry seeded-draw codebook named `cents` (a07 names it
    * `pcent`, beside a03's `cent`), per-vector codes, the query ADC table
    * dtq and the long-form codes cl.
    */
  private def pqCtes(cents: String): Seq[String] = {
    def dist(s: Int): String = (1 to 8).map { d0 =>
      val d = s * 8 + d0; s"(xi[$d]-ci[$d])*(xi[$d]-ci[$d])"
    }.mkString(" + ")
    val codeCols = (0 until 8)
      .map(s => s"(min((${dist(s)})*100 + cid)) % 100 AS code$s").mkString(", ")
    val dtArms = (0 until 8).map(s =>
      s"SELECT vec_id AS q_id, cid, $s AS s, ${dist(s)} AS qd FROM qe6 CROSS JOIN $cents")
      .mkString("\n  UNION ALL ")
    val clArms = (0 until 8)
      .map(s => s"SELECT c_id, $s AS s, code$s AS code FROM codes")
      .mkString("\n  UNION ALL ")
    Seq(
      """e6 AS (SELECT vec_id, list_transform(embedding,
        |  x -> cast(floor(cast(x AS double)*1000000 + 0.5) AS bigint)) AS xi
        |FROM embeddings)""".stripMargin,
      s"""$cents AS (
         |  SELECT row_number() OVER (ORDER BY
         |      ${drawSql("vec_id")}, vec_id) AS cid,
         |    xi AS ci
         |  FROM e6
         |  ORDER BY ${drawSql("vec_id")}, vec_id
         |  LIMIT 16)""".stripMargin,
      s"codes AS (SELECT vec_id AS c_id, $codeCols FROM e6 CROSS JOIN $cents GROUP BY 1)",
      "qe6 AS (SELECT vec_id, xi FROM e6 WHERE vec_id < 10)",
      s"dtq AS ($dtArms)",
      s"cl AS ($clArms)")
  }

  /** The ADC candidate cut over a `bkt(q_id, c_id, bk)` CTE (twin of
    * Ann.bucketCutCandidates).
    */
  private def pqCutCtes(den: Int): Seq[String] = Seq(
    Ann.cutSql("bkt", "bk", den, descending = false),
    """cand AS (SELECT b.q_id, b.c_id FROM bkt b JOIN thr USING (q_id)
      |  WHERE b.bk <= thr.thr)""".stripMargin)

  /** The k17/k18 BPE recursion CTE chain: capped word vocabulary, initial
    * character symbol frame, then per round the pair count, top-5 output,
    * LIMIT-1 merge pick, gaps-and-islands head selection, and the rebuilt
    * symbol frame (s4 = final after 3 merges).
    */
  private val BpeCtes: Seq[String] = {
    val base = Seq(
      """w0 AS (SELECT w, cast(count(*) AS bigint) AS wf FROM (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS w
        |  FROM documents) WHERE length(w) <= 32 GROUP BY 1)""".stripMargin,
      """s1 AS (SELECT w, wf, cast(pos AS bigint) AS pos,
        |    substr(w, cast(pos AS int), 1) AS sym
        |  FROM (SELECT w, wf, unnest(range(1, length(w)+1)) AS pos FROM w0))""".stripMargin)
    val per = (1 to 3).flatMap { r => Seq(
      s"""p$r AS (SELECT a.sym, b.sym AS nxt, cast(sum(a.wf) AS bigint) AS freq
         |  FROM s$r a JOIN s$r b ON b.w = a.w AND b.pos = a.pos + 1
         |  GROUP BY 1, 2)""".stripMargin,
      s"""o$r AS (SELECT $r AS round, rank, sym AS lhs, nxt AS rhs, freq FROM (
         |  SELECT sym, nxt, freq,
         |    cast(row_number() OVER (ORDER BY freq DESC, sym, nxt) AS int) AS rank
         |  FROM p$r) WHERE rank <= 5)""".stripMargin,
      s"t$r AS (SELECT sym AS ml, nxt AS mr FROM p$r ORDER BY freq DESC, sym, nxt LIMIT 1)",
      s"""mk$r AS (SELECT s.w, s.wf, s.pos, s.sym, t.ml, t.mr,
         |    (nx.sym IS NOT NULL AND s.sym = t.ml AND nx.sym = t.mr) AS m
         |  FROM s$r s CROSS JOIN t$r t
         |  LEFT JOIN s$r nx ON nx.w = s.w AND nx.pos = s.pos + 1)""".stripMargin,
      s"""hd$r AS (SELECT w, pos FROM (
         |    SELECT w, pos, row_number() OVER (PARTITION BY w, grp ORDER BY pos) AS ii
         |    FROM (SELECT w, pos,
         |        pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS grp
         |      FROM mk$r WHERE m)) WHERE ii % 2 = 1)""".stripMargin,
      s"""s${r + 1} AS (SELECT w, wf,
         |    cast(row_number() OVER (PARTITION BY w ORDER BY pos) AS bigint) AS pos, sym
         |  FROM (
         |    SELECT k.w, k.wf, k.pos,
         |      CASE WHEN h.pos IS NOT NULL THEN k.ml || k.mr ELSE k.sym END AS sym
         |    FROM mk$r k
         |    LEFT JOIN hd$r h ON h.w = k.w AND h.pos = k.pos
         |    LEFT JOIN hd$r ht ON ht.w = k.w AND ht.pos = k.pos - 1
         |    WHERE ht.pos IS NULL))""".stripMargin)
    }
    base ++ per
  }

  // after every strict val the oracle strings read: an object initializes
  // its vals in source order, so a later val would still be null here
  val registry: Seq[Q] = Seq(
    Q("d01_exact_dup", (s, dir) =>
      DedupOps.exactDuplicates(docsWithDups(s, dir)),
      withCtes(DupCte)(
        """SELECT md5(text) AS text_hash, count(*) AS dup_cnt, min(doc_id) AS keep_doc_id
          |FROM dd GROUP BY 1 HAVING count(*) > 1""".stripMargin)),

    Q("d08_exact_keep", (s, dir) =>
      DedupOps.exactDedup(docsWithDups(s, dir))
        .select(col("doc_id").as("kept_doc_id"), col("source"), col("lang")),
      withCtes(DupCte)(
        """SELECT doc_id AS kept_doc_id, source, lang FROM (
          |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          |  FROM dd) WHERE rn = 1""".stripMargin)),

    Q("d02_minhash", (s, dir) => {
      val t = Tables.tokens(s, dir)
      t.select(col("doc_id"),
        DedupOps.minhash(col("tokens"), 0).as("m0"),
        DedupOps.minhash(col("tokens"), 1).as("m1"),
        DedupOps.minhash(col("tokens"), 2).as("m2"),
        DedupOps.minhash(col("tokens"), 3).as("m3"))
    },
      withCtes(ToksCte)(
        s"""SELECT doc_id, ${mhSql("tokens", 0)} AS m0, ${mhSql("tokens", 1)} AS m1,
           |  ${mhSql("tokens", 2)} AS m2, ${mhSql("tokens", 3)} AS m3 FROM toks""".stripMargin)),

    Q("d03_lsh_pairs", (s, dir) =>
      DedupOps.lshCandidatesRows(shingleRows(s, dir, dedup = false), k = 16, r = 4),
      withCtes(ShingCte, SigCte, BandsCte, PairsCte)(
        "SELECT doc_a, doc_b FROM spairs")),

    // EXACT all-pairs similarity self-join by prefix filtering (Bayardo
    // et al. 2007): every pair with 16-char-window Jaccard >= 1/2, no LSH
    // miss probability — the deterministic complement of d03/d04. The
    // 16-char basis (not the 8-char LSH shingles) keeps the df tail heavy
    // so the prefix filter actually filters (100x measured — see the op's
    // scaladoc). One row per document: its distinct window hashes (a
    // per-doc array_distinct, not a corpus-wide (sid, tok) distinct —
    // duplicates only arise within one document); the op checkpoints it.
    // The rebalance lets AQE size the hashing fan-out from the data.
    Q("d22_allpairs", (s, dir) =>
      DedupOps.allPairsSimilarity(
        docs(s, dir).hint("rebalance")
          .select(col("doc_id").as("sid"),
            array_distinct(graft.functions.WindowHashes.of(col("text"), 16)).as("ts")),
        tE6 = 500000L),
      // d22 twin: the t11/d12 per-step-mod window fold at n=16 (the 8-char
      // end-mod ShingCte fold would overflow int64 at 16 chars), identical
      // (df asc, tok asc) global order, identical integer prefix length and
      // size filter, then the d04 list_intersect verification; jac_e6 >=
      // 500000 equals the exact rational predicate 2·inter >= union
      {
        val fold = (0 until 16).foldLeft("cast(0 AS bigint)") { (acc, j) =>
          s"(($acc*31 + ascii(substr(text, cast(i+$j AS int), 1))) % 1000000007)"
        }
        withCtes(
          s"""wind AS (
             |  SELECT doc_id AS sid,
             |    list_distinct(list_transform(range(1, greatest(length(text)-15, 0)+1),
             |      i -> $fold)) AS stoks
             |  FROM documents)""".stripMargin,
          "tokr AS (SELECT sid, unnest(stoks) AS tok FROM wind)",
          "dfr AS (SELECT tok, count(*) AS df FROM tokr GROUP BY 1)",
          """rkr AS (SELECT sid, tok,
            |  row_number() OVER (PARTITION BY sid ORDER BY df, tok) AS rn,
            |  count(*) OVER (PARTITION BY sid) AS len
            |FROM tokr JOIN dfr USING (tok))""".stripMargin,
          "prefr AS (SELECT sid, tok, len FROM rkr WHERE rn <= len - ((len + 1) // 2) + 1)",
          """capairs AS (SELECT DISTINCT a.sid AS doc_a, b.sid AS doc_b
            |  FROM prefr a JOIN prefr b USING (tok)
            |  WHERE a.sid < b.sid AND a.len*2 >= b.len AND b.len*2 >= a.len)""".stripMargin)(
          s"""SELECT doc_a, doc_b, inter, sz_a, sz_b,
             |  (inter * 1000000) // (sz_a + sz_b - inter) AS jac_e6
             |FROM (
             |${DedupOps.intersectSql("capairs", "wind")})
             |WHERE (inter * 1000000) // (sz_a + sz_b - inter) >= 500000""".stripMargin)
      }),

    Q("d04_lsh_jaccard", (s, dir) => {
      // the shingle rows feed TWO consumers (banding + verification) —
      // materialize once
      val sh = shingleRows(s, dir).localCheckpoint(true)
      val pairs = DedupOps.lshCandidatesRows(sh, k = 16, r = 4)
      DedupOps.jaccardRows(sh, pairs)
        // jac_e6 from INTEGERS (inter·1e6 div union): round(x,6) lands on
        // exact half boundaries (41/640 = .0640625) where the engines'
        // half-modes differ — integer floor-division cannot
        .select(col("doc_a"), col("doc_b"), col("inter"), col("sz_a"), col("sz_b"),
          expr("(inter * 1000000) div (sz_a + sz_b - inter)").as("jac_e6"))
    },
      // intersection via list_intersect over the two docs' (distinct) shingle
      // lists: O(pairs) work — an unnest-join twin materialized pair×shingle
      // rows, which at a 10× corpus (594k candidate pairs) exploded past 80 GB
      // in the oracle engine. Same result set: only pairs with inter ≥ 1
      // appear (the join twin's inner join dropped inter=0 pairs).
      withCtes(ShingCte, SigCte, BandsCte, PairsCte)(
        s"""SELECT doc_a, doc_b, inter, sz_a, sz_b,
           |  (inter * 1000000) // (sz_a + sz_b - inter) AS jac_e6
           |FROM (
           |${DedupOps.intersectSql("spairs", "shingd")})
           |WHERE inter > 0""".stripMargin)),

    Q("d05_simhash", (s, dir) =>
      DedupOps.simhash16(Tables.tokens(s, dir), "doc_id", col("tokens")),
      withCtes(ToksCte)({
        val sums = (0 until 16).map(b =>
          s"sum(CASE WHEN (t >> $b) % 2 = 1 THEN 1 ELSE -1 END) AS s$b").mkString(", ")
        val hash = signBitsSql((0 until 16).map(b => s"s$b"))
        s"""SELECT doc_id, cast($hash AS bigint) AS simhash FROM (
           |  SELECT doc_id, $sums FROM (SELECT doc_id, unnest(tokens) AS t FROM toks) GROUP BY 1)""".stripMargin
      })),

    Q("d06_shingle_stats", (s, dir) =>
      docs(s, dir).select(col("doc_id").cast("long").as("sid"),
        size(DedupOps.shingleTokens(col("text"), 8)).as("n_shingles"),
        length(col("text")).as("text_len")),
      withCtes(ShingCte)(
        "SELECT sid, cast(len(stoks) AS int) AS n_shingles, cast(length(text) AS int) AS text_len " +
          "FROM shingd JOIN documents ON sid = doc_id")),

    Q("d07_embed_neardup", (s, dir) =>
      DedupOps.embeddingNearDup(emb(s, dir), window = 200, minCos = 0.35)
        .select(col("id_a"), col("id_b"),
          round(col("cos") * 1e6).cast("long").as("cos_e6")),
      withCtes(EmbCte)(
        s"""SELECT id_a, id_b, cast(round(cos*1000000) AS bigint) AS cos_e6 FROM (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |    ${cosSql("a.v", "b.v")} AS cos
           |  FROM edd a JOIN edd b ON a.label = b.label
           |    AND b.vec_id > a.vec_id AND b.vec_id - a.vec_id <= 200)
           |WHERE cos >= 0.35""".stripMargin)),

    // duplicate-cluster assignment: connected components over the LSH
    // candidate pairs via distributed min-label propagation — the step that
    // turns pairwise candidates into keep-one-per-component dedup decisions
    Q("d09_dup_clusters", (s, dir) =>
      // doc-level propagation — measured faster on THIS pairs-sparse corpus
      // (adjacent A/B: 5.0-5.8 s vs 5.5-7.8 s collapsed at sf0.1); the
      // value-identical duplicateClustersCollapsed wins 5× the moment
      // verbatim families appear (see its scaladoc for the measured cross)
      DedupOps.duplicateClusters(
        DedupOps.lshCandidatesRows(shingleRows(s, dir, dedup = false), k = 16, r = 4)),
      // transitive closure via recursive CTE — over the GROUP graph, not the
      // doc graph: docs sharing an identical 16-minhash signature are
      // automatically a pairwise LSH clique (equal signatures ⇒ equal band
      // keys), so the closure first collapses each signature-identical group
      // to its min-sid and walks reachability over distinct group edges only.
      // The corpus's ~500-doc near-dup families made the naive doc-level
      // closure O(clique³) in the oracle engine (≥20 min at a 10× corpus);
      // the group graph stays tiny at any scale. cluster(sid) = min reachable
      // group id = component min sid, identical to the doc-level closure.
      (ClusterCtes +
        "\nSELECT s.sid, min(r.l) AS cluster" +
        "\nFROM sgrp s JOIN greach r ON r.gid = s.gid GROUP BY s.sid")),

    // soft dedup: every doc's training sampling weight = 1e6 div its
    // duplicate-cluster size (singletons 1e6) — down-weight instead of
    // drop, one doc's worth of expected mass per near-dup family
    Q("d20_soft_dedup", (s, dir) =>
      DedupOps.softDedupWeights(docs(s, dir),
        DedupOps.duplicateClusters(
          DedupOps.lshCandidatesRows(shingleRows(s, dir, dedup = false), k = 16, r = 4))),
      // d09's closure + per-cluster counts; singletons surface via the
      // corpus left join at weight 1e6
      (ClusterCtes +
        """,
          |cl AS (SELECT s.sid, min(r.l) AS cluster
          |  FROM sgrp s JOIN greach r ON r.gid = s.gid GROUP BY s.sid),
          |cz AS (SELECT cluster, count(*) AS csz FROM cl GROUP BY 1),
          |mem AS (SELECT sid, csz FROM cl JOIN cz USING (cluster))
          |SELECT d.doc_id AS sid, coalesce(m.csz, 1) AS csz,
          |  1000000 // coalesce(m.csz, 1) AS weight_ppm
          |FROM documents d LEFT JOIN mem m ON m.sid = d.doc_id""".stripMargin)),

    // cross-SOURCE overlap matrix: LSH candidate pairs rolled up by the
    // (unordered) source pair — "which sources duplicate each other", the
    // dashboard view that decides inter-source dedup priorities; two
    // equi-joins to attach sources, one aggregate
    Q("d18_source_overlap", (s, dir) => {
      val pairs = DedupOps.lshCandidatesRows(
        shingleRows(s, dir, dedup = false), k = 16, r = 4)
      val src = docs(s, dir).select(col("doc_id").as("sid"), col("source"))
      pairs
        .join(src.select(col("sid").as("doc_a"), col("source").as("src_a")), "doc_a")
        .join(src.select(col("sid").as("doc_b"), col("source").as("src_b")), "doc_b")
        .groupBy(least(col("src_a"), col("src_b")).as("source_lo"),
          greatest(col("src_a"), col("src_b")).as("source_hi"))
        .agg(count(lit(1)).as("n_pairs"))
    },
      // source-pair rollup over the spairs band-pair CTEs (no closure, no
      // quality): attach each pair end's source, count per unordered pair
      withCtes(ShingCte, SigCte, BandsCte, PairsCte)(
        """SELECT least(a.source, b.source) AS source_lo,
          |  greatest(a.source, b.source) AS source_hi,
          |  count(*) AS n_pairs
          |FROM spairs p
          |JOIN documents a ON a.doc_id = p.doc_a
          |JOIN documents b ON b.doc_id = p.doc_b
          |GROUP BY 1, 2""".stripMargin)),

    // cross-doc LINE-level exact dedup (RefinedWeb terminal-line dedup):
    // decorated multi-line raw — per-variant header (df≈n/3), a pair line
    // shared by exactly 2 docs (the ldf == maxDocFreq boundary, KEPT),
    // the unique body, an every-5th promo, a corpus-wide footer; lines in
    // >2 docs are excised and the residual reassembly is md5-checked
    Q("d17_line_dedup", (s, dir) => {
      val did = col("doc_id")
      val raw = concat(
        lit("header v"), (did % 3).cast("string"), lit("\n"),
        lit("pair "), expr("doc_id div 2").cast("string"), lit("\n"),
        col("text"), lit("\n"),
        when(did % 5 === 0, lit("promo line\n")).otherwise(lit("")),
        lit("(c) footer"))
      graft.ops.CurationOps.lineDedup(
        docs(s, dir).repartition(s.sparkContext.defaultParallelism)
          .select(did.as("did"), raw.as("raw")), maxDocFreq = 2)
    },
      """WITH raw AS (
        |  SELECT doc_id AS did,
        |    'header v' || cast(doc_id % 3 AS varchar) || chr(10)
        |    || 'pair ' || cast(doc_id // 2 AS varchar) || chr(10)
        |    || text || chr(10)
        |    || (CASE WHEN doc_id % 5 = 0 THEN 'promo line' || chr(10) ELSE '' END)
        |    || '(c) footer' AS raw
        |  FROM documents),
        |lns AS (
        |  SELECT did, i - 1 AS idx, l[i] AS line, md5(l[i]) AS lh
        |  FROM (SELECT did, string_split(raw, chr(10)) AS l,
        |               unnest(range(1, len(string_split(raw, chr(10))) + 1)) AS i
        |        FROM raw)),
        |lf AS (SELECT lh, count(*) AS ldf
        |       FROM (SELECT DISTINCT did, lh FROM lns) GROUP BY 1)
        |SELECT did, count(*) AS n_lines,
        |  cast(sum(CASE WHEN ldf <= 2 THEN 1 ELSE 0 END) AS bigint) AS kept,
        |  cast(sum(CASE WHEN ldf > 2 THEN 1 ELSE 0 END) AS bigint) AS dropped,
        |  md5(coalesce(string_agg(CASE WHEN ldf <= 2 THEN line END, chr(10) ORDER BY idx), '')) AS residual_md5
        |FROM lns JOIN lf USING (lh) GROUP BY did""".stripMargin),

    // clustering over a VERBATIM-family corpus (every real crawl's
    // boilerplate regime): 20 exact copies per family — each family's text
    // is its head's text replicated — where doc pairs grow quadratically
    // per family and the signature-group-collapsed propagation wins ~5×
    // over doc-level (measured, DedupOps scaladoc). d09 keeps the
    // doc-level form on the pairs-sparse gate corpus; this keeps the
    // collapsed path oracle-exercised on the corpus shape it exists for
    Q("d19_clusters_verbatim", (s, dir) => {
      val fam = docs(s, dir)
        .select(col("doc_id"), expr("doc_id div 20").as("fam"), col("text"))
      val headIds = fam.groupBy("fam").agg(min("doc_id").as("hid"))
      val heads = fam.join(headIds, "fam").where(col("doc_id") === col("hid"))
        .select(col("fam"), col("text").as("htext"))
      val vdocs = fam.drop("text").join(heads, "fam")
        .select(col("doc_id"), col("htext").as("text"))
        .repartition(s.sparkContext.defaultParallelism)
      DedupOps.duplicateClustersCollapsed(
        DedupOps.shingleRows(vdocs, "doc_id", "text", 8, dedup = false),
        k = 16, r = 4)
    },
      // the same group-graph closure over the verbatim-family corpus: every
      // doc carries its family head's text (head = min doc_id of doc_id//20)
      (clusterCtes(
        pre = """vdocs AS (
          |  SELECT d.doc_id, h.text
          |  FROM documents d
          |  JOIN (SELECT doc_id // 20 AS fam, text,
          |          row_number() OVER (PARTITION BY doc_id // 20 ORDER BY doc_id) AS rn
          |        FROM documents) h
          |    ON h.fam = d.doc_id // 20 AND h.rn = 1)""".stripMargin,
        shingSrc = "vdocs") +
        "\nSELECT s.sid, min(r.l) AS cluster" +
        "\nFROM sgrp s JOIN greach r ON r.gid = s.gid GROUP BY s.sid")),

    // quality-aware keep decision per near-dup component: the d09
    // clustering composed with the t02 quality score — keep the
    // highest-quality member of each cluster (ties → min id), the
    // canonicalization step real pipelines run instead of keep-min-id
    Q("d16_cluster_canon", (s, dir) => {
      val clusters = DedupOps.duplicateClusters(
        DedupOps.lshCandidatesRows(shingleRows(s, dir, dedup = false), k = 16, r = 4))
      val qual = docs(s, dir).select(col("doc_id").as("sid"),
        TextOps.qualityScore(col("text")).as("quality"))
      DedupOps.clusterCanonical(clusters, qual)
    },
      // the d09 closure CTEs + quality per member; representative = min sid
      // among the cluster's max-quality members (the struct-max tie-break)
      (ClusterCtes +
        s""",
           |clu AS (SELECT s.sid, min(r.l) AS cluster
           |  FROM sgrp s JOIN greach r ON r.gid = s.gid GROUP BY s.sid),
           |mem AS (SELECT c.sid, c.cluster, q.quality FROM clu c
           |  JOIN (SELECT doc_id AS sid, $QualitySql AS quality FROM documents) q USING (sid)),
           |mbest AS (SELECT cluster, max(quality) AS bq, count(*) AS n_members
           |  FROM mem GROUP BY 1),
           |rep AS (SELECT m.cluster, min(m.sid) AS rep_sid FROM mem m
           |  JOIN mbest b USING (cluster) WHERE m.quality = b.bq GROUP BY 1)
           |SELECT m.sid AS did, m.cluster, m.quality, b.n_members,
           |  CASE WHEN m.sid = r.rep_sid THEN 1 ELSE 0 END AS keep
           |FROM mem m JOIN mbest b USING (cluster) JOIN rep r USING (cluster)""".stripMargin)),

    Q("a01_ann_brute", (s, dir) =>
      Ann.bruteForceTopK(emb(s, dir), col("vec_id") < 10, k = 5)
        .select(col("q_id"), col("c_id"),
          round(col("cos") * 1e6).cast("long").as("cos_e6"), col("rank")),
      withCtes(EmbCte)(
        s"""SELECT q_id, c_id, cast(round(cos*1000000) AS bigint) AS cos_e6, rank FROM (
           |  SELECT q_id, c_id, cos,
           |    cast(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS int) AS rank
           |  FROM (
           |    SELECT q.vec_id AS q_id, c.vec_id AS c_id, ${cosSql("q.v", "c.v")} AS cos
           |    FROM (SELECT * FROM edd WHERE vec_id < 10) q
           |    JOIN edd c ON c.vec_id <> q.vec_id))
           |WHERE rank <= 5""".stripMargin)),

    // MMR diversified retrieval: greedy λ·rel − (1−λ)·max-sim-to-picked
    // over each query's top-20 pool — exact int64 greedy, 5 picks
    Q("i07_mmr", (s, dir) =>
      Ann.mmrSelect(emb(s, dir), col("vec_id") < 10, k = 5),
      // the greedy MMR recursion unrolled: one (candidates, argmax) CTE pair
      // per pick, selected set = union of the prior pick CTEs
      {
        val lam = 700000L
        val mu = 300000L
        val pool =
          s"""pool AS (
             |  SELECT q_id, c_id, cast(round(cos*1000000) AS bigint) AS rel FROM (
             |    SELECT q_id, c_id, cos,
             |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
             |    FROM (SELECT q.vec_id AS q_id, c.vec_id AS c_id, ${cosSql("q.v", "c.v")} AS cos
             |          FROM (SELECT * FROM edd WHERE vec_id < 10) q
             |          JOIN edd c ON c.vec_id <> q.vec_id))
             |  WHERE rn <= 20)""".stripMargin
        val sims =
          s"""sims AS (
             |  SELECT p1.q_id, p1.c_id AS a_id, p2.c_id AS b_id,
             |    cast(round(${cosSql("a.v", "b.v")}*1000000) AS bigint) AS sim
             |  FROM pool p1 JOIN pool p2 ON p1.q_id = p2.q_id AND p1.c_id <> p2.c_id
             |  JOIN edd a ON a.vec_id = p1.c_id JOIN edd b ON b.vec_id = p2.c_id)""".stripMargin
        val s1 =
          s"""s1 AS (
             |  SELECT q_id, c_id, 1 AS pick, rel*$lam AS mmr FROM (
             |    SELECT q_id, c_id, rel,
             |      row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, c_id) AS rn
             |    FROM pool) WHERE rn = 1)""".stripMargin
        def step(i: Int): String = {
          val prev = (1 until i).map(j => s"SELECT q_id, c_id FROM s$j").mkString(" UNION ALL ")
          s"""c$i AS (
             |  SELECT p.q_id, p.c_id, p.rel*$lam - max(s.sim)*$mu AS mmr
             |  FROM pool p
             |  JOIN sims s ON s.q_id = p.q_id AND s.a_id = p.c_id
             |  JOIN ($prev) sel ON sel.q_id = s.q_id AND sel.c_id = s.b_id
             |  WHERE NOT EXISTS (SELECT 1 FROM ($prev) x
             |                    WHERE x.q_id = p.q_id AND x.c_id = p.c_id)
             |  GROUP BY p.q_id, p.c_id, p.rel),
             |s$i AS (
             |  SELECT q_id, c_id, $i AS pick, mmr FROM (
             |    SELECT q_id, c_id, mmr,
             |      row_number() OVER (PARTITION BY q_id ORDER BY mmr DESC, c_id) AS rn
             |    FROM c$i) WHERE rn = 1)""".stripMargin
        }
        withCtes((Seq(EmbCte, pool, sims, s1) ++ (2 to 5).map(step)): _*)(
          (1 to 5).map(i => s"SELECT q_id, c_id, pick, mmr FROM s$i")
            .mkString("\nUNION ALL "))
      }),

    // hybrid-retrieval fusion: RRF of the exact dense run and the cheap
    // sketch run (1e6 div (60+rank) ppm points), fused top-5
    Q("i08_rrf", (s, dir) => {
      val exact = Ann.bruteForceTopK(emb(s, dir), col("vec_id") < 10, k = 20)
        .select("q_id", "c_id", "rank")
      val sketch = Ann.sketchTopK(emb(s, dir), col("vec_id") < 10, k = 20)
        .select("q_id", "c_id", "rank")
      Ann.rrfFuse(Seq(exact, sketch), k = 5)
    },
      withCtes(EmbCte, SkCte,
        s"""ea AS (
           |  SELECT q_id, c_id, rank FROM (
           |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |      cast(row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cosSql("q.v", "c.v")} DESC, c.vec_id) AS int) AS rank
           |    FROM (SELECT * FROM edd WHERE vec_id < 10) q
           |    JOIN edd c ON c.vec_id <> q.vec_id)
           |  WHERE rank <= 20)""".stripMargin,
        s"""sr AS (
           |  SELECT q_id, c_id, rank FROM (
           |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |      cast(row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY cast(floor((${skCosSql("q", "c")}) * 1000000) AS bigint) DESC,
           |                 c.vec_id) AS int) AS rank
           |    FROM (SELECT * FROM sk WHERE vec_id < 10) q
           |    JOIN sk c ON c.vec_id <> q.vec_id)
           |  WHERE rank <= 20)""".stripMargin,
        """un AS (
          |  SELECT q_id, c_id, 1000000 // (60 + rank) AS pts FROM ea
          |  UNION ALL
          |  SELECT q_id, c_id, 1000000 // (60 + rank) AS pts FROM sr)""".stripMargin,
        """f AS (SELECT q_id, c_id, cast(sum(pts) AS bigint) AS rrf_e6
          |  FROM un GROUP BY 1, 2)""".stripMargin)(
        """SELECT q_id, c_id, rrf_e6, rank FROM (
          |  SELECT q_id, c_id, rrf_e6,
          |    cast(row_number() OVER (PARTITION BY q_id
          |      ORDER BY rrf_e6 DESC, c_id) AS int) AS rank
          |  FROM f) WHERE rank <= 5""".stripMargin)),

    // ANN recall-evaluation harness as a first-class query — the eval
    // loop a pipeline runs when tuning an index: per query, |approx ∩
    // exact| over the a01 ground truth and the a04 sketch-rerank run,
    // recall in exact ppm. Both runs come from one shared Q×N frame; the
    // recall is one equi-join + one aggregate over two top-k frames of
    // Q·k rows — never corpus-sized regardless of corpus
    Q("i09_ann_recall", (s, dir) => {
      val (exactK, apxK) = Ann.exactAndSketchTopK(emb(s, dir), col("vec_id") < 10, k = 5)
      val exact = exactK.select(col("q_id"), col("c_id"))
      val apx = apxK.select(col("q_id").as("aq"), col("c_id").as("ac"))
      exact.join(apx, col("q_id") === col("aq") && col("c_id") === col("ac"), "left")
        .groupBy("q_id").agg(count(col("ac")).as("hits"))
        .select(col("q_id"), col("hits"),
          expr("hits * 1000000 div 5").as("recall_e6"))
    },
      // i09 twin: a04's CTE chain verbatim (apx) joined against the a01
      // exact top-5 (exr); recall = per-query hit count in exact ppm
      withCtes(EmbCte +: SkCte +: A04Ctes :+
        s"apx AS ($RerankSql)" :+
        s"""exr AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id,
           |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
           |    FROM (
           |      SELECT q.vec_id AS q_id, c.vec_id AS c_id, ${cosSql("q.v", "c.v")} AS cos
           |      FROM (SELECT * FROM edd WHERE vec_id < 10) q
           |      JOIN edd c ON c.vec_id <> q.vec_id))
           |  WHERE rank <= 5)""".stripMargin: _*)(
        """SELECT e.q_id, count(a.c_id) AS hits,
          |  (count(a.c_id) * 1000000) // 5 AS recall_e6
          |FROM exr e LEFT JOIN apx a ON a.q_id = e.q_id AND a.c_id = e.c_id
          |GROUP BY e.q_id""".stripMargin)),

    // IVF cell-balance report — the index-build audit every ANN
    // deployment runs before serving: per-cell member counts of the a03
    // coarse assignment, each cell's corpus share, and the imbalance
    // factor max/mean (how much a hot cell inflates worst-case probe
    // cost). Bounded output (≤ nCells rows); the one corpus pass is the
    // shared assignment artifact itself
    Q("i11_ivf_balance", (s, dir) => {
      val per = Ann.ivfAssignment(emb(s, dir))
        .groupBy("cid").agg(count(lit(1)).as("n"))
      val tot = per.agg(sum("n").as("tot"), count(lit(1)).as("n_cells"),
        max("n").as("max_n"))
      per.crossJoin(broadcast(tot))
        .select(col("cid"), col("n"),
          expr("n * 1000000 div tot").as("share_ppm"),
          expr("max_n * n_cells * 1000000 div tot").as("imbalance_e6"),
          col("n_cells"))
    },
      // i11 twin: the shared assignment CTEs at cr = 1, per-cell rollup +
      // broadcast-scalar imbalance factor (max/mean over non-empty cells)
      withCtes(EmbCte +: SkCte +: A03AsnCtes :+
        """per AS (SELECT cid, cast(count(*) AS bigint) AS n
          |  FROM asn WHERE cr = 1 GROUP BY 1)""".stripMargin :+
        """tot AS (SELECT cast(sum(n) AS bigint) AS tot,
          |  cast(count(*) AS bigint) AS n_cells,
          |  cast(max(n) AS bigint) AS max_n FROM per)""".stripMargin: _*)(
        """SELECT cid, n, (n * 1000000) // tot AS share_ppm,
          |  (max_n * n_cells * 1000000) // tot AS imbalance_e6, n_cells
          |FROM per CROSS JOIN tot""".stripMargin)),

    // multi-table LSH: 4 independent 8-bit sign tables from the shared
    // integer sketch; candidates = union over tables (key cardinality
    // 4·2^8 — no low-cardinality shuffle key at scale)
    Q("a02_ann_lsh", (s, dir) =>
      Ann.multiTableLshTopK(emb(s, dir), col("vec_id") < 10, k = 5)
        .select(col("q_id"), col("c_id"),
          round(col("cos") * 1e6).cast("long").as("cos_e6"), col("rank")),
      {
        def bucket(t: Int): String = signBitsSql((0 until 8).map(j => s"s${t * 8 + j}"))
        val tb = (0 until 4).map(t =>
          s"SELECT vec_id, $t AS tbl, ${bucket(t)} AS bkt FROM sk").mkString("\n  UNION ALL ")
        withCtes(EmbCte, SkCte,
          s"tb AS (\n  $tb)",
          // multi-probe: queries probe all buckets within Hamming radius 2
          "masks AS (SELECT m FROM range(0, 256) t(m) WHERE bit_count(m) <= 2)",
          """cand AS (
            |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
            |  FROM tb q CROSS JOIN masks
            |  JOIN tb c ON q.tbl = c.tbl AND xor(q.bkt, m) = c.bkt AND c.vec_id <> q.vec_id
            |  WHERE q.vec_id < 10)""".stripMargin)(RerankSql)
      }),

    // compressed-sketch scan + exact rerank of the top 1/5 — the ANN path
    // that reaches recall@5 ≥ 0.8 on this (isotropic) corpus; see Ann scaladoc
    Q("a04_ann_sketch", (s, dir) =>
      Ann.sketchRerankTopK(emb(s, dir), col("vec_id") < 10, k = 5)
        .select(col("q_id"), col("c_id"),
          round(col("cos") * 1e6).cast("long").as("cos_e6"), col("rank")),
      // twin of the two-pass threshold cut: same quantized-histogram →
      // cumulative-count → max-bucket derivation, then ski >= thr filter
      withCtes(EmbCte +: SkCte +: A04Ctes: _*)(RerankSql)),

    // binary sign codes (one long per vector, 32x less scan I/O than the
    // f32 vectors), bit_count(xor) Hamming scan, <=33-bucket per-query
    // threshold histogram, exact rerank of the top 1/5
    Q("a05_ann_hamming", (s, dir) =>
      Ann.hammingRerankTopK(emb(s, dir), col("vec_id") < 10, k = 5)
        .select(col("q_id"), col("c_id"),
          round(col("cos") * 1e6).cast("long").as("cos_e6"), col("rank")),
      {
        val code = signBitsSql((0 until 32).map(j => s"s$j"))
        withCtes(EmbCte, SkCte,
          s"cd AS (SELECT vec_id, $code AS code FROM sk)",
          """hp AS (
            |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
            |    bit_count(xor(q.code, c.code)) AS ham
            |  FROM cd q JOIN cd c ON c.vec_id <> q.vec_id
            |  WHERE q.vec_id < 10)""".stripMargin,
          Ann.cutSql("hp", "ham", 5, descending = false),
          """cand AS (SELECT q_id, c_id FROM hp JOIN thr USING (q_id)
            |  WHERE ham <= thr)""".stripMargin)(RerankSql)
      }),

    // product quantization + ADC scan: 8 nibble codes per vector, per-query
    // 8x16 distance table, bucketed-histogram candidate cut, exact rerank
    Q("a06_ann_pq", (s, dir) =>
      Ann.pqTopK(emb(s, dir), col("vec_id") < 10, k = 5)
        .select(col("q_id"), col("c_id"),
          round(col("cos") * 1e6).cast("long").as("cos_e6"), col("rank")),
      withCtes(EmbCte +: pqCtes("cents") :+
        """bkt AS (
          |  SELECT q_id, c_id, adist // 100000000 AS bk FROM (
          |    SELECT d.q_id, cl.c_id, cast(sum(d.qd) AS bigint) AS adist
          |    FROM cl JOIN dtq d ON d.s = cl.s AND d.cid = cl.code
          |    WHERE cl.c_id <> d.q_id GROUP BY 1, 2))""".stripMargin :++
        pqCutCtes(5): _*)(RerankSql)),

    // IVF-PQ composition (the billion-vector scale path): coarse cell cut,
    // ADC rank of only the probed cells' 4-byte codes, exact rerank
    Q("a07_ann_ivfpq", (s, dir) =>
      Ann.ivfPqTopK(emb(s, dir), col("vec_id") < 10, k = 5)
        .select(col("q_id"), col("c_id"),
          round(col("cos") * 1e6).cast("long").as("cos_e6"), col("rank")),
      // IVF-PQ twin: the a03 coarse CTEs (cent/asn → ivfc, nProbe=64) feed
      // the a06 ADC CTEs (pcent/codes/dtq/cl), bkt sums qd only over ivfc
      // pairs, den=2 cut, shared exact rerank
      withCtes((EmbCte +: SkCte +: A03AsnCtes :+
        """ivfc AS (
          |  SELECT DISTINCT q.vec_id AS q_id, cc.vec_id AS c_id
          |  FROM asn q JOIN asn cc ON cc.cid = q.cid AND cc.cr = 1 AND cc.vec_id <> q.vec_id
          |  WHERE q.vec_id < 10 AND q.cr <= 64)""".stripMargin) ++ pqCtes("pcent") ++
        ("""bkt AS (
          |  SELECT q_id, c_id, adist // 100000000 AS bk FROM (
          |    SELECT v.q_id, v.c_id, cast(sum(d.qd) AS bigint) AS adist
          |    FROM ivfc v JOIN cl ON cl.c_id = v.c_id
          |    JOIN dtq d ON d.q_id = v.q_id AND d.s = cl.s AND d.cid = cl.code
          |    GROUP BY 1, 2))""".stripMargin +: pqCutCtes(2)): _*)(RerankSql)),

    // lexical retrieval over the corpus (decontamination-by-search / eval-
    // similar mining): rational-idf BM25, fixed-order term sum, top-k
    Q("i06_bm25", (s, dir) =>
      Retrieval.bm25TopK(docs(s, dir), Bm25Terms, k = 20),
      Retrieval.bm25OracleSql(Bm25Terms, 20)),

    // per-doc tf-idf keyword extraction (topic-signature tagging for
    // domain labeling / mixture design); per-doc-bounded rank window
    Q("t13_keywords", (s, dir) =>
      Retrieval.tfidfKeywords(docs(s, dir), m = 3),
      Retrieval.tfidfOracleSql(3)),

    // two-stage retrieve-then-rerank — the canonical hybrid RAG retrieval
    // shape: cheap lexical recall (the i06 BM25 top-20 verbatim) followed
    // by exact dense-cosine rerank of ONLY those candidates against the
    // query vector (vec_id 0, broadcast scalar), top-5 by (cos desc, id).
    // Stage 2 touches k rows however big the corpus: the dense join is
    // candidates→embeddings, never corpus→corpus (the reason pipelines
    // stage retrieval instead of dense-scanning everything); candidates
    // without an embedding fall out of the rerank by definition
    Q("i10_retrieve_rerank", (s, dir) => {
      val cands = Retrieval.bm25TopK(docs(s, dir), Bm25Terms, k = 20)
      val e = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val qv = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      cands.join(e, col("doc_id") === col("vec_id"))
        .crossJoin(broadcast(qv))
        .withColumn("cos", Ann.cosine(col("v"), col("qv")))
        .withColumn("rank", row_number().over(
          Window.partitionBy(lit(0)).orderBy(col("cos").desc, col("doc_id"))))
        .where(col("rank") <= 5)
        .select(col("doc_id"), col("score_e6"),
          round(col("cos") * 1e6).cast("long").as("cos_e6"),
          col("rank"))
    },
      // i10 twin: the full i06 BM25 statement nested as the candidate CTE
      // (DuckDB allows WITH inside a CTE body), then the exact 6-dp cosine
      // rerank against vec 0 over candidates only
      withCtes(
        s"cands AS (${Retrieval.bm25OracleSql(Bm25Terms, 20)})",
        EmbCte,
        s"""rr AS (
           |  SELECT c.doc_id, c.score_e6, ${cosSql("q.v", "d.v")} AS cos
           |  FROM cands c
           |  JOIN edd d ON d.vec_id = c.doc_id
           |  CROSS JOIN (SELECT v FROM edd WHERE vec_id = 0) q)""".stripMargin)(
        """SELECT doc_id, score_e6, cos_e6, rank FROM (
          |  SELECT doc_id, score_e6,
          |    cast(round(cos*1000000) AS bigint) AS cos_e6,
          |    cast(row_number() OVER (ORDER BY cos DESC, doc_id) AS int) AS rank
          |  FROM rr)
          |WHERE rank <= 5""".stripMargin)),

    // corpus data-card report (the datasheet block every released corpus
    // publishes): doc/char/token totals, source and distinct-text
    // cardinalities, summed quality — ONE map-side-combined aggregate
    // pass, every statistic an exact integer
    Q("t14_corpus_card", (s, dir) =>
      docs(s, dir).agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        sum(TextOps.wordCount(col("text"))).as("n_ws_tokens"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(md5(col("text"))).as("n_distinct_texts"),
        sum(TextOps.qualityScore(col("text"))).as("sum_quality")),
      s"""SELECT count(*) AS n_docs,
         |  cast(sum(length(text)) AS bigint) AS n_chars,
         |  cast(sum(len(list_filter(string_split(text, ' '), w -> length(w) > 0))) AS bigint) AS n_ws_tokens,
         |  count(DISTINCT source) AS n_sources,
         |  count(DISTINCT md5(text)) AS n_distinct_texts,
         |  cast(sum($QualitySql) AS bigint) AS sum_quality
         |FROM documents""".stripMargin),

    Q("t01_langid", (s, dir) =>
      docs(s, dir).select(col("doc_id").as("did"),
        TextOps.langIdHeuristic(col("text")).as("lang_pred"), col("lang")),
      s"SELECT doc_id AS did, $LangPredSql AS lang_pred, lang FROM documents"),

    Q("t02_quality", (s, dir) =>
      docs(s, dir).select(col("doc_id").as("did"),
        TextOps.qualityScore(col("text")).as("quality")),
      s"SELECT doc_id AS did, $QualitySql AS quality FROM documents"),

    Q("t03_tokcount", (s, dir) =>
      docs(s, dir).select(col("doc_id").as("did"),
        TextOps.wordCount(col("text")).as("ws_tokens"),
        TextOps.regexTokenCount(col("text")).as("re_tokens")),
      """SELECT doc_id AS did,
        |  cast(len(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS bigint) AS ws_tokens,
        |  cast(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS bigint) AS re_tokens
        |FROM documents""".stripMargin),

    // canonical normalization (lowercase, strip punct band, collapse ws):
    // decorated synthetic input, oracle re-derives the normalized form
    // arithmetically — a normalization bug cannot self-confirm
    Q("t05_normalize", (s, dir) => {
      val raw = concat(lit("  The,  QUICK brown.fox!  run#"),
        col("did").cast("string"), lit("  (END)  "))
      Tables.rawEvents2(s, dir).select(col("doc_id"),
        TextOps.normalizeText(raw).as("norm"))
    },
      withCtes(V2Cte)(
        "SELECT doc_id, 'the quick brownfox run#' || cast(did AS varchar) || ' end' AS norm FROM v2")),

    // PII scrub: email + dotted-quad masking; 3-octet version strings must
    // survive (the mask is 4-octet-bounded)
    Q("t06_scrub", (s, dir) => {
      val did = col("did")
      val raw = when(did % 4 === 0,
        concat(lit("release v1.2."), (did % 9).cast("string"), lit(" is clean")))
        .otherwise(concat(lit("contact user"), (did % 50).cast("string"),
          lit("@example.com or 10.1."), (did % 250).cast("string"), lit("."),
          (did % 200 + 1).cast("string"), lit(" port 443 v1.2."),
          (did % 9).cast("string")))
      Tables.rawEvents2(s, dir).select(col("doc_id"),
        TextOps.scrubPii(raw).as("scrubbed"))
    },
      withCtes(V2Cte)(
        """SELECT doc_id,
          |  CASE WHEN did % 4 = 0
          |    THEN 'release v1.2.' || cast(did % 9 AS varchar) || ' is clean'
          |    ELSE 'contact <EMAIL> or <IP> port 443 v1.2.' || cast(did % 9 AS varchar)
          |  END AS scrubbed
          |FROM v2""".stripMargin)),

    // custom codegen Expression — verified in ScalaTest vs a Scala oracle;
    // rows-only check from the driver (not SQL-expressible in DuckDB 1.0)
    Q("t04_fingerprint_roll", (s, dir) =>
      Tables.tokens(s, dir).select(col("doc_id"),
        graft.functions.TokenFingerprint.of(col("tokens")).as("fp_roll")),
      // the custom codegen Expression's rolling hash, re-derived in SQL via
      // list_reduce — upgrades t04 from rows-only to a full oracle row
      withCtes(ToksCte)(
        """SELECT doc_id,
          |  list_reduce(list_prepend(cast(0 AS bigint), list_transform(tokens, t -> cast(t AS bigint))),
          |    (a, b) -> (a*31 + b) % 1000000007) AS fp_roll
          |FROM toks""".stripMargin)),

    Q("m01_media_meta", (s, dir) =>
      Multimodal.mediaFromDocs(docs(s, dir)).toDF()
        .select(col("media_id"), col("media_type"), col("width"), col("height"),
          length(col("payload")).cast("long").as("n_bytes")),
      """SELECT doc_id AS media_id,
        |  CASE cast(doc_id % 3 AS int) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  cast((doc_id % 64) * 16 + 16 AS int) AS width,
        |  cast((doc_id % 48) * 16 + 16 AS int) AS height,
        |  cast(octet_length(encode(text)) AS bigint) AS n_bytes
        |FROM documents""".stripMargin),

    Q("m02_frame_sample", (s, dir) =>
      Multimodal.sampleFrames(Multimodal.mediaFromDocs(docs(s, dir)), 64, 3)
        .groupBy("media_id").agg(count(lit(1)).as("frames")),
      """SELECT doc_id AS media_id,
        |  cast(floor((greatest(cast(ceil(octet_length(encode(text))*1.0/64) AS int), 1) - 1) / 3) + 1 AS bigint) AS frames
        |FROM documents""".stripMargin),

    // binary feature extraction (mapPartitions batch path) — rows-only
    Q("m03_media_features", (s, dir) =>
      Multimodal.extractFeatures(Multimodal.mediaFromDocs(docs(s, dir)))
        .toDF().select("media_id", "media_type", "n_bytes", "checksum"),
      // mapPartitions byte-checksum twin: fold over the UTF-8 payload bytes
      // (synthetic text is ASCII, so ascii(char) == byte value)
      """SELECT doc_id AS media_id,
        |  CASE cast(doc_id % 3 AS int) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  cast(octet_length(encode(text)) AS bigint) AS n_bytes,
        |  list_reduce(list_prepend(cast(0 AS bigint),
        |      list_transform(range(1, length(text)+1), i -> cast(ascii(substr(text, cast(i AS int), 1)) AS bigint))),
        |    (a, b) -> (a*31 + b) % 1000000007) AS checksum
        |FROM documents""".stripMargin),

    // perceptual-bucket media near-dup (image-dedup shape, codec stubbed):
    // 8 exact byte-lane sums → coarse 8-d bucket → hash-agg dup groups;
    // over the duplicated corpus so exact copies are guaranteed to collide
    Q("m04_media_neardup", (s, dir) =>
      Multimodal.nearDupBuckets(Multimodal.mediaFromDocs(docsWithDups(s, dir))),
      // byte-lane sums re-derived per char (ascii == byte on the ASCII
      // corpus, the same equivalence m03's checksum twin documents); empty
      // texts keep their all-zero lanes via the left join
      withCtes(DupCte,
        """lsum AS (
          |  SELECT doc_id,
          |    cast(coalesce(sum(CASE WHEN (i-1) % 8 = 0 THEN b END), 0) AS bigint) AS l0,
          |    cast(coalesce(sum(CASE WHEN (i-1) % 8 = 1 THEN b END), 0) AS bigint) AS l1,
          |    cast(coalesce(sum(CASE WHEN (i-1) % 8 = 2 THEN b END), 0) AS bigint) AS l2,
          |    cast(coalesce(sum(CASE WHEN (i-1) % 8 = 3 THEN b END), 0) AS bigint) AS l3,
          |    cast(coalesce(sum(CASE WHEN (i-1) % 8 = 4 THEN b END), 0) AS bigint) AS l4,
          |    cast(coalesce(sum(CASE WHEN (i-1) % 8 = 5 THEN b END), 0) AS bigint) AS l5,
          |    cast(coalesce(sum(CASE WHEN (i-1) % 8 = 6 THEN b END), 0) AS bigint) AS l6,
          |    cast(coalesce(sum(CASE WHEN (i-1) % 8 = 7 THEN b END), 0) AS bigint) AS l7
          |  FROM (
          |    SELECT doc_id, i, ascii(substr(text, cast(i AS int), 1)) AS b
          |    FROM (SELECT doc_id, text, unnest(range(1, length(text)+1)) AS i FROM dd))
          |  GROUP BY 1)""".stripMargin,
        """lanes AS (
          |  SELECT d.doc_id AS media_id,
          |    coalesce(l.l0, 0) AS l0, coalesce(l.l1, 0) AS l1,
          |    coalesce(l.l2, 0) AS l2, coalesce(l.l3, 0) AS l3,
          |    coalesce(l.l4, 0) AS l4, coalesce(l.l5, 0) AS l5,
          |    coalesce(l.l6, 0) AS l6, coalesce(l.l7, 0) AS l7
          |  FROM dd d LEFT JOIN lsum l ON l.doc_id = d.doc_id)""".stripMargin)(
        """SELECT concat_ws('_', l0 // 256, l1 // 256, l2 // 256, l3 // 256,
          |    l4 // 256, l5 // 256, l6 // 256, l7 // 256) AS bucket,
          |  count(*) AS dup_cnt, min(media_id) AS keep_media_id
          |FROM lanes GROUP BY 1 HAVING count(*) > 1""".stripMargin)),

    // IVF with corpus-derived centroids (stride-sampled vectors); 256 cells
    // so the candidate join key has real cardinality (nCells IS the shuffle
    // key), nProbe=32 holds the candidate fraction at ≈ 1/8
    Q("a03_ann_ivf", (s, dir) =>
      Ann.ivfTopK(emb(s, dir), col("vec_id") < 10, k = 5, nProbe = 32)
        .select(col("q_id"), col("c_id"),
          round(col("cos") * 1e6).cast("long").as("cos_e6"), col("rank")),
      // twin of the sketch-space IVF: centroid sketches from the shared sk
      // CTE, 32-term int64 dot chains (same left-assoc order as the Spark
      // chain), score = dot/sqrt(cnorm) in doubles
      withCtes(EmbCte +: SkCte +: A03AsnCtes :+
        """cand AS (
          |  SELECT DISTINCT q.vec_id AS q_id, cc.vec_id AS c_id
          |  FROM asn q JOIN asn cc ON cc.cid = q.cid AND cc.cr = 1 AND cc.vec_id <> q.vec_id
          |  WHERE q.vec_id < 10 AND q.cr <= 32)""".stripMargin: _*)(RerankSql)),

    // salting must be semantically transparent: oracle is the PLAIN join —
    // the salted plan (hot keys split S ways) must produce identical rows
    Q("s01_salted_enrich", (s, dir) =>
      graft.operators.Enrich.salted(Tables.tokens(s, dir), Tables.sourceDim(s, dir),
          "source", col("doc_id"), salts = 8)
        .select("doc_id", "source", "vendor", "log_type", "version"),
      withCtes(ToksCte, DimCte)(
        """SELECT t.doc_id, t.source, d.vendor, d.log_type, d.version
          |FROM toks t LEFT JOIN dim d USING (source)""".stripMargin)),

    // training-sequence packing: doc token streams → fixed 512-token
    // sequences via distributed prefix-sum (no global window). The packed
    // array is emitted as md5(csv) — gate-sortable and order-sensitive.
    Q("k01_pack", (s, dir) =>
      graft.ops.Packing.pack(
        Tables.tokens(s, dir).select("doc_id", "tokens", "n_tok"), seqLen = 512)
        .select(col("seq_id"), md5(concat_ws(",", col("tokens"))).as("tok_md5"),
          col("n_docs")),
      withCtes(ToksCte)(
        """SELECT seq_id,
          |  md5(array_to_string(list_transform(list(utok ORDER BY gpos), t -> cast(t AS varchar)), ',')) AS tok_md5,
          |  count(DISTINCT doc_id) AS n_docs
          |FROM (
          |  SELECT doc_id, cast(floor(gpos/512) AS bigint) AS seq_id, gpos, utok FROM (
          |    SELECT doc_id, tok_offset + upos AS gpos, utok FROM (
          |      SELECT doc_id, tok_offset, unnest(tokens) AS utok,
          |        unnest(range(len(tokens))) AS upos
          |      FROM (
          |        SELECT doc_id, tokens,
          |          coalesce(sum(len(tokens)) OVER (ORDER BY doc_id
          |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
          |        FROM toks))))
          |GROUP BY 1 HAVING count(*) = 512""".stripMargin)),

    // end-to-end curation composition: exact-dedup the duplicated corpus,
    // re-tokenize the survivors, pack into fixed 512-token training
    // sequences — the full curate→tokenize→pack chain in one plan; the
    // oracle recomputes the whole chain independently, so a bug at any
    // stage (dedup keeping a copy, offset drift in packing) diverges
    Q("k02_curate_pack", (s, dir) => {
      val kept = DedupOps.exactDedup(docsWithDups(s, dir))
      val toks = transform(Tables.wordsCol(col("text")), Tables.wordToken _)
      val t = kept.select(
        concat(lit("doc-"), lpad(col("doc_id").cast("string"), 12, "0")).as("doc_id"),
        toks.as("tokens"), size(toks).as("n_tok"))
      graft.ops.Packing.pack(t, seqLen = 512)
        .select(col("seq_id"), md5(concat_ws(",", col("tokens"))).as("tok_md5"),
          col("n_docs"))
    },
      withCtes(DupCte,
        """kept AS (
          |  SELECT doc_id, text FROM (
          |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          |    FROM dd) WHERE rn = 1)""".stripMargin,
        """ktoks AS (
          |  SELECT 'doc-' || lpad(cast(doc_id AS varchar), 12, '0') AS doc_id,
          |    list_transform(list_filter(string_split(text, ' '), w -> length(w) > 0),
          |      w -> cast(((ascii(w)*59 + ascii(substr(w, cast(length(w) AS int), 1)))*31 + length(w)) % 32768 AS int)) AS tokens
          |  FROM kept)""".stripMargin)(
        """SELECT seq_id,
          |  md5(array_to_string(list_transform(list(utok ORDER BY gpos), t -> cast(t AS varchar)), ',')) AS tok_md5,
          |  count(DISTINCT doc_id) AS n_docs
          |FROM (
          |  SELECT doc_id, cast(floor(gpos/512) AS bigint) AS seq_id, gpos, utok FROM (
          |    SELECT doc_id, tok_offset + upos AS gpos, utok FROM (
          |      SELECT doc_id, tok_offset, unnest(tokens) AS utok,
          |        unnest(range(len(tokens))) AS upos
          |      FROM (
          |        SELECT doc_id, tokens,
          |          coalesce(sum(len(tokens)) OVER (ORDER BY doc_id
          |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
          |        FROM ktoks))))
          |GROUP BY 1 HAVING count(*) = 512""".stripMargin)),

    // vocabulary building: global token frequencies, top-100 — parallel
    // partial top-k (orderBy+limit), rank derived over the 100 survivors
    Q("k03_vocab", (s, dir) => {
      val freq = Tables.tokens(s, dir).select(explode(col("tokens")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val top = freq.orderBy(col("freq").desc, col("tok")).limit(100)
      top.withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("tok"))))
    },
      withCtes(ToksCte)(
        """SELECT tok, freq, cast(row_number() OVER (ORDER BY freq DESC, tok) AS int) AS rank
          |FROM (
          |  SELECT tok, count(*) AS freq
          |  FROM (SELECT unnest(tokens) AS tok FROM toks) GROUP BY tok)
          |ORDER BY freq DESC, tok LIMIT 100""".stripMargin)),

    // apply a trained vocabulary to the token streams — the text→ids step:
    // top-32 tokens by (freq desc, tok) become ids 1..32 (the k03 shape:
    // rank window only over the ≤32-row cut, never the corpus), everything
    // else is OOV id 0; per-doc id sequence re-assembled position-sorted
    // (first 16 positions, csv — the driver gate cannot hash arrays)
    Q("k14_apply_vocab", (s, dir) => {
      val t = Tables.tokens(s, dir)
      val freq = t.select(explode(col("tokens")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val vocab = freq.orderBy(col("freq").desc, col("tok")).limit(32)
        .withColumn("vid",
          row_number().over(Window.orderBy(col("freq").desc, col("tok"))))
        .select("tok", "vid")
      t.select(col("doc_id"),
          posexplode(slice(col("tokens"), 1, 16)).as(Seq("pos", "tok")))
        .join(broadcast(vocab), Seq("tok"), "left")
        .select(col("doc_id"), col("pos"), coalesce(col("vid"), lit(0)).as("vid"))
        .groupBy("doc_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("vid")))),
          x => x.getField("vid").cast("string")), ",").as("ids_csv"))
    },
      withCtes(ToksCte,
        """vfreq AS (
          |  SELECT tok, count(*) AS freq
          |  FROM (SELECT unnest(tokens) AS tok FROM toks) GROUP BY 1)""".stripMargin,
        """vocab AS (
          |  SELECT tok, cast(row_number() OVER (ORDER BY freq DESC, tok) AS int) AS vid
          |  FROM (SELECT * FROM vfreq ORDER BY freq DESC, tok LIMIT 32))""".stripMargin,
        """vpos AS (
          |  SELECT doc_id, i, tokens[i] AS tok
          |  FROM (SELECT doc_id, tokens, unnest(range(1, least(len(tokens), 16)+1)) AS i
          |        FROM toks))""".stripMargin)(
        """SELECT doc_id,
          |  string_agg(cast(coalesce(v.vid, 0) AS varchar), ',' ORDER BY i) AS ids_csv
          |FROM vpos LEFT JOIN vocab v USING (tok) GROUP BY doc_id""".stripMargin)),

    // dataset statistics: sequence-length histogram (16-token buckets) —
    // the length profile every tokenized-corpus curation step reports
    Q("k04_len_hist", (s, dir) =>
      Tables.tokens(s, dir)
        .groupBy((floor(col("n_tok") / 16) * 16).cast("int").as("len_bucket"))
        .agg(count(lit(1)).as("docs"), sum(col("n_tok")).as("sum_tokens")),
      withCtes(ToksCte)(
        """SELECT cast(cast(floor(len(tokens)/16) AS bigint)*16 AS int) AS len_bucket,
          |  count(*) AS docs, cast(sum(len(tokens)) AS bigint) AS sum_tokens
          |FROM toks GROUP BY 1""".stripMargin)),

    // deterministic train/val split: a pure-arithmetic hash split (stable
    // across runs and engines — no sampling RNG), the assignment step of
    // every dataset-curation pipeline
    Q("k05_split", (s, dir) => {
      val h = Sketches.draw(col("line_no")) % 97
      Tables.tokens(s, dir)
        .withColumn("split", when(h < 87, lit("train")).otherwise(lit("val")))
        .groupBy("split").agg(count(lit(1)).as("docs"), sum(col("n_tok")).as("sum_tokens"))
    },
      withCtes(ToksCte)(
        s"""SELECT CASE WHEN ${drawSql("line_no")} % 97 < 87 THEN 'train' ELSE 'val' END AS split,
          |  count(*) AS docs, cast(sum(len(tokens)) AS bigint) AS sum_tokens
          |FROM toks GROUP BY 1""".stripMargin)),

    // Gopher-style repetition quality signals (top-bigram coverage,
    // duplicated-5-gram fraction) — the boilerplate/spam filters of
    // web-corpus curation, as integer micro-unit ratios
    Q("t07_repetition", (s, dir) =>
      graft.ops.CurationOps.repetitionSignals(docs(s, dir)),
      """WITH tk AS (
        |  SELECT doc_id AS did, list_filter(string_split(text, ' '), w -> length(w) > 0) AS l
        |  FROM documents),
        |bg AS (
        |  SELECT did, unnest(list_transform(range(1, greatest(len(l)-1, 0)+1),
        |    i -> l[i] || ' ' || l[i+1])) AS g FROM tk),
        |g5 AS (
        |  SELECT did, unnest(list_transform(range(1, greatest(len(l)-4, 0)+1),
        |    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4])) AS g
        |  FROM tk),
        |ab AS (SELECT did, cast(sum(n) AS bigint) AS n_bi, cast(max(n) AS bigint) AS top_n
        |       FROM (SELECT did, g, count(*) AS n FROM bg GROUP BY 1, 2) GROUP BY 1),
        |a5 AS (SELECT did, cast(sum(n) AS bigint) AS n_g5,
        |              cast(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS bigint) AS dup_n
        |       FROM (SELECT did, g, count(*) AS n FROM g5 GROUP BY 1, 2) GROUP BY 1)
        |SELECT did, n_bi, (top_n * 1000000) // n_bi AS top_bi_e6,
        |       n_g5, (dup_n * 1000000) // n_g5 AS dup_g5_e6
        |FROM ab JOIN a5 USING (did)""".stripMargin),

    // corpus-frequency trigram LM familiarity (CCNet-style quality bucket;
    // the LM table is charset-bounded → broadcast at any corpus size)
    Q("t08_lm_familiarity", (s, dir) =>
      // fan the single-file doc read out before the trigram explode (the
      // op makes two passes over it — count then score)
      graft.ops.CurationOps.lmFamiliarity(
        docs(s, dir).repartition(s.sparkContext.defaultParallelism)),
      """WITH tri AS (
        |  SELECT doc_id AS did,
        |    unnest(list_transform(range(1, greatest(length(text)-2, 0)+1),
        |      i -> (ascii(substr(text, cast(i AS int), 1))*31
        |            + ascii(substr(text, cast(i+1 AS int), 1)))*31
        |            + ascii(substr(text, cast(i+2 AS int), 1)))) AS g
        |  FROM documents WHERE length(text) >= 3),
        |lm AS (SELECT g, count(*) AS cnt FROM tri GROUP BY 1)
        |SELECT did, (cast(sum(cnt) AS bigint) * 1000000) // count(*) AS fam_e6
        |FROM tri JOIN lm USING (g) GROUP BY did""".stripMargin),

    // CCNet head/middle/tail partition: per-source familiarity thirds
    // (exact percentiles, broadcast thresholds), (source, bucket) rollup
    Q("t15_ppl_buckets", (s, dir) =>
      graft.ops.CurationOps.pplBuckets(
        docs(s, dir).repartition(s.sparkContext.defaultParallelism)),
      {
        val pLo = 1.0 / 3
        val pHi = 2.0 / 3
        s"""WITH tri AS (
           |  SELECT doc_id AS did,
           |    unnest(list_transform(range(1, greatest(length(text)-2, 0)+1),
           |      i -> (ascii(substr(text, cast(i AS int), 1))*31
           |            + ascii(substr(text, cast(i+1 AS int), 1)))*31
           |            + ascii(substr(text, cast(i+2 AS int), 1)))) AS g
           |  FROM documents WHERE length(text) >= 3),
           |lm AS (SELECT g, count(*) AS cnt FROM tri GROUP BY 1),
           |fam AS (SELECT did, (cast(sum(cnt) AS bigint) * 1000000) // count(*) AS fam_e6
           |  FROM tri JOIN lm USING (g) GROUP BY did),
           |sc AS (SELECT d.source, d.n_chars, f.fam_e6
           |  FROM documents d JOIN fam f ON f.did = d.doc_id),
           |thr AS (SELECT source,
           |    cast(round(quantile_cont(fam_e6, $pLo)) AS bigint) AS t_lo,
           |    cast(round(quantile_cont(fam_e6, $pHi)) AS bigint) AS t_hi
           |  FROM sc GROUP BY 1)
           |SELECT source,
           |  CASE WHEN fam_e6 >= t_hi THEN 'head'
           |       WHEN fam_e6 >= t_lo THEN 'middle' ELSE 'tail' END AS bucket,
           |  count(*) AS n_docs, cast(sum(n_chars) AS bigint) AS sum_chars,
           |  min(fam_e6) AS min_fam, max(fam_e6) AS max_fam
           |FROM sc JOIN thr USING (source) GROUP BY 1, 2""".stripMargin
      }),

    // train/eval decontamination: training docs sharing >= 60 distinct
    // 8-char shingles with any eval doc (eval set = did % 89 == 7,
    // broadcast — benchmark suites are tiny next to the corpus)
    Q("d10_decontaminate", (s, dir) =>
      // the shingle rows feed BOTH branches (train filter + eval filter)
      // — materialize once or the scan+hash runs per branch
      graft.ops.CurationOps.decontaminate(
        shingleRows(s, dir).localCheckpoint(true), col("sid") % 89 === 7, minShared = 60),
      withCtes(ShingCte,
        "tr AS (SELECT sid, unnest(stoks) AS g FROM shingd WHERE sid % 89 <> 7)",
        "ev AS (SELECT sid AS esid, unnest(stoks) AS g FROM shingd WHERE sid % 89 = 7)",
        "ov AS (SELECT sid, esid, count(*) AS sh FROM tr JOIN ev USING (g) GROUP BY 1, 2)")(
        "SELECT sid AS did, count(*) AS eval_partners FROM ov WHERE sh >= 60 GROUP BY sid")),

    // n-gram contamination RATE (Brown et al. 2020 App. C — the statistic
    // GPT-3/PaLM publish next to the d10 binary quarantine): per training
    // doc, the fraction of its distinct 13-char windows found anywhere in
    // the eval set (did % 89 == 7), with the dirty cut the pipelines apply
    Q("d21_contam_rate", (s, dir) =>
      graft.ops.CurationOps.contaminationRate(
        docs(s, dir).repartition(s.sparkContext.defaultParallelism),
        col("sid") % 89 === 7, n = 13, dirtyPpm = 400000L),
      // d21 twin: the t11 window-fold CTE at n=13 restricted by the d10
      // eval split; rate and dirty flag in exact integer ppm
      {
        val fold = (0 until 13).foldLeft("cast(0 AS bigint)") { (acc, j) =>
          s"(($acc*31 + ascii(substr(text, cast(i+$j AS int), 1))) % 1000000007)"
        }
        s"""WITH ss AS (
           |  SELECT DISTINCT doc_id AS sid,
           |    unnest(list_transform(range(1, greatest(length(text)-12, 0)+1),
           |      i -> $fold)) AS sub
           |  FROM documents),
           |ev AS (SELECT DISTINCT sub FROM ss WHERE sid % 89 = 7),
           |per AS (
           |  SELECT sid, count(*) AS n_win,
           |    cast(sum(CASE WHEN ev.sub IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_hit
           |  FROM ss LEFT JOIN ev ON ss.sub = ev.sub
           |  WHERE ss.sid % 89 <> 7 GROUP BY 1)
           |SELECT d.doc_id AS sid, coalesce(n_win, 0) AS n_win,
           |  coalesce(n_hit, 0) AS n_hit,
           |  coalesce((n_hit * 1000000) // n_win, 0) AS contam_e6,
           |  cast(CASE WHEN coalesce((n_hit * 1000000) // n_win, 0) >= 400000
           |       THEN 1 ELSE 0 END AS bigint) AS dirty
           |FROM documents d LEFT JOIN per ON per.sid = d.doc_id
           |WHERE d.doc_id % 89 <> 7""".stripMargin
      }),

    // MinHash Jaccard ESTIMATION from the 16-wide signatures (matching
    // components / 16) — the cheap filter a pipeline applies between LSH
    // banding and the exact d04 verify; joins only signature rows (one per
    // doc), never token rows
    Q("d13_minhash_est", (s, dir) => {
      val sh = shingleRows(s, dir, dedup = false).localCheckpoint(true)
      val sig = DedupOps.minhashSigRows(sh, 16)
      val pairs = DedupOps.lshCandidatesRows(sh, k = 16, r = 4)
      val a = sig.select(col("sid").as("doc_a") +: (0 until 16).map(j => col(s"m$j").as(s"a$j")): _*)
      val b = sig.select(col("sid").as("doc_b") +: (0 until 16).map(j => col(s"m$j").as(s"b$j")): _*)
      val matches = (0 until 16).map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L)).reduce(_ + _)
      pairs.join(a, "doc_a").join(b, "doc_b")
        .withColumn("matches", matches)
        .select(col("doc_a"), col("doc_b"), col("matches"),
          expr("(matches * 1000000) div 16").as("est_e6"))
    },
      withCtes(ShingCte, SigCte, BandsCte, PairsCte)(
        s"""SELECT doc_a, doc_b, matches, (matches * 1000000) // 16 AS est_e6 FROM (
           |  SELECT p.doc_a, p.doc_b,
           |    ${(0 until 16).map(j => s"(CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END)").mkString(" + ")} AS matches
           |  FROM spairs p
           |  JOIN ssig a ON a.sid = p.doc_a
           |  JOIN ssig b ON b.sid = p.doc_b)""".stripMargin)),

    // composed curation gate — the end-to-end KEEP decision in ONE plan:
    // language ∧ quality ∧ repetition ∧ not-contaminated ∧ not-eval. Each
    // signal is the same operator the standalone queries check; the oracle
    // recomposes all four twins, so a drift in any stage diverges here too
    Q("t09_curation_gate", (s, dir) => {
      val base = docs(s, dir).select(col("doc_id").as("did"),
        TextOps.langIdHeuristic(col("text")).as("lang_pred"),
        TextOps.qualityScore(col("text")).as("quality"))
      val rep = graft.ops.CurationOps.topBigramFrac(docs(s, dir))
      val cont = graft.ops.CurationOps.decontaminate(
        shingleRows(s, dir).localCheckpoint(true), col("sid") % 89 === 7, minShared = 60)
        .select("did")
      base.join(rep, "did")
        .where(col("did") % 89 =!= 7 && col("lang_pred") === "en" &&
          col("quality") >= 80 && col("top_bi_e6") <= 200000)
        .join(cont, Seq("did"), "left_anti")
        .select("did", "quality", "top_bi_e6")
    },
      withCtes(ShingCte,
        "tr AS (SELECT sid, unnest(stoks) AS g FROM shingd WHERE sid % 89 <> 7)",
        "ev AS (SELECT sid AS esid, unnest(stoks) AS g FROM shingd WHERE sid % 89 = 7)",
        "cont AS (SELECT sid AS did FROM (SELECT sid, esid, count(*) AS sh FROM tr JOIN ev USING (g) GROUP BY 1, 2) WHERE sh >= 60 GROUP BY sid)",
        """tk AS (SELECT doc_id AS did, list_filter(string_split(text, ' '), w -> length(w) > 0) AS l
          |  FROM documents)""".stripMargin,
        """bg AS (SELECT did, unnest(list_transform(range(1, greatest(len(l)-1, 0)+1),
          |    i -> l[i] || ' ' || l[i+1])) AS g FROM tk)""".stripMargin,
        """rep AS (SELECT did, (cast(max(n) AS bigint) * 1000000) // cast(sum(n) AS bigint) AS top_bi_e6
          |  FROM (SELECT did, g, count(*) AS n FROM bg GROUP BY 1, 2) GROUP BY 1)""".stripMargin,
        s"""base AS (SELECT doc_id AS did, $LangPredSql AS lang_pred, $QualitySql AS quality
           |  FROM documents)""".stripMargin)(
        """SELECT b.did, b.quality, r.top_bi_e6
          |FROM base b JOIN rep r USING (did)
          |WHERE b.did % 89 <> 7 AND b.lang_pred = 'en' AND b.quality >= 80
          |  AND r.top_bi_e6 <= 200000
          |  AND b.did NOT IN (SELECT did FROM cont)""".stripMargin)),

    // count-min sketch (4×1024 exact counters, fixed LCG hashes) + point
    // estimates for the top-20 exact heavy hitters — est ≥ exact by
    // construction, the gap IS the collision error at this (d, w)
    Q("s02_countmin", (s, dir) =>
      graft.ops.Sketches.countMinTopK(
        Tables.tokens(s, dir).select(explode(col("tokens")).as("tok")),
        "tok", d = 4, w = 1024, topK = 20),
      {
        def hb(j: Int, v: String) = s"(${hSql(j, v)}) % 1024"
        val cells = (0 until 4).map(j =>
          s"SELECT $j AS r, ${hb(j, "tok")} AS b FROM tv").mkString("\n  UNION ALL ")
        val probes = (0 until 4).map(j =>
          s"SELECT tok, exact_cnt, $j AS r, ${hb(j, "tok")} AS b FROM exact").mkString("\n  UNION ALL ")
        withCtes(ToksCte,
          "tv AS (SELECT cast(unnest(tokens) AS bigint) AS tok FROM toks)",
          s"cells AS (\n  $cells)",
          "cms AS (SELECT r, b, count(*) AS n FROM cells GROUP BY 1, 2)",
          """exact AS (SELECT tok, count(*) AS exact_cnt FROM tv
            |  GROUP BY 1 ORDER BY exact_cnt DESC, tok LIMIT 20)""".stripMargin,
          s"probes AS (\n  $probes)")(
          """SELECT tok, exact_cnt, min(n) AS cms_est
            |FROM probes JOIN cms USING (r, b) GROUP BY 1, 2""".stripMargin)
      }),

    // HyperLogLog-shaped per-source distinct-token estimate, oracle-exact
    // (64 registers; dyadic register sums are float-exact and
    // order-independent), with the exact distinct count alongside
    Q("s03_hll_distinct", (s, dir) =>
      graft.ops.Sketches.hllDistinct(
        Tables.tokens(s, dir).select(col("source"), explode(col("tokens")).as("tok")),
        "source", "tok", m = 64),
      {
        val alphaM2 = (0.7213 / (1.0 + 1.079 / 64)) * 64 * 64
        val rank = (24 to 1 by -1).map(k =>
          s"WHEN body % ${1L << k} = 0 THEN ${k + 1}").mkString(" ")
        withCtes(ToksCte,
          "tv AS (SELECT source, cast(unnest(tokens) AS bigint) AS tok FROM toks)",
          s"hv AS (SELECT source, ${hSql(0, "tok")} AS hv FROM tv)",
          s"""rg AS (SELECT source, hv % 64 AS reg,
             |  CASE $rank ELSE 1 END AS rho
             |  FROM (SELECT source, hv, hv // 64 AS body FROM hv))""".stripMargin,
          "regs AS (SELECT source, reg, max(rho) AS mx FROM rg GROUP BY 1, 2)",
          s"""est AS (SELECT source,
             |  cast(CASE WHEN raw <= ${2.5 * 64} AND zeros > 0
             |            THEN round(64.0 * ln(64.0 / zeros))
             |            ELSE round(raw) END AS bigint) AS hll_est
             |  FROM (SELECT source, zeros, $alphaM2 / (z0 + zeros) AS raw FROM (
             |    SELECT source, sum(1.0 / (1 << cast(mx AS int))) AS z0,
             |           64 - count(*) AS zeros
             |    FROM regs GROUP BY source)))""".stripMargin)(
          """SELECT e.source, e.hll_est, x.exact FROM est e
            |JOIN (SELECT source, count(DISTINCT tok) AS exact FROM tv GROUP BY 1) x USING (source)""".stripMargin)
      }),

    // KMV k-minimum-values distinct sketch per source (Beyer et al. 2007):
    // the 64 smallest distinct token hashes — an O(k) mergeable synopsis
    // whose (k-1)·P div kth estimator is integer-exact; the set-operation
    // sibling of s03's HLL (KMV sketches intersect/union, registers don't)
    Q("s05_kmv_distinct", (s, dir) =>
      graft.ops.Sketches.kmvDistinct(
        Tables.tokens(s, dir).select(col("source"), explode(col("tokens")).as("tok")),
        "source", "tok", k = 64),
      // s05 twin: same h(0, ·) hash as s03, plain per-source rank (the salted
      // two-level rank is a pure execution-shape choice — same k smallest)
      {
        withCtes(ToksCte,
          "tv AS (SELECT source, cast(unnest(tokens) AS bigint) AS tok FROM toks)",
          s"hv AS (SELECT DISTINCT source, ${hSql(0, "tok")} AS hv FROM tv)",
          """rk AS (SELECT source, hv,
            |  row_number() OVER (PARTITION BY source ORDER BY hv) AS rn FROM hv)""".stripMargin,
          """sk AS (SELECT source, max(CASE WHEN rn = 64 THEN hv END) AS kth,
            |  count(*) AS nk FROM rk WHERE rn <= 64 GROUP BY 1)""".stripMargin)(
          s"""SELECT s.source,
             |  cast(CASE WHEN nk < 64 THEN nk ELSE ${63L * Sketches.P} // kth END AS bigint) AS kmv_est,
             |  x.exact
             |FROM sk s
             |JOIN (SELECT source, count(DISTINCT tok) AS exact FROM tv GROUP BY 1) x USING (source)""".stripMargin)
      }),

    // Bloom-filter decontamination: eval shingles inserted into a 2^20-bit
    // k=3 filter, training docs quarantined at >= 60 bloom-hit shingles —
    // the fixed-size O(m) filter variant of d10 (superset by construction:
    // no false negatives). The shingle rows feed both the filter build and
    // the probe side — materialize once, like d10
    Q("s04_bloom_decontam", (s, dir) =>
      graft.ops.Sketches.bloomDecontaminate(
        shingleRows(s, dir).localCheckpoint(true), col("sid") % 89 === 7,
        m = 1 << 20, k = 3, minHits = 60),
      {
        // identical position arithmetic to Sketches.h(j, tok) % 2^20
        def p(j: Int, v: String) = s"(${hSql(j, s"cast($v AS bigint)")}) % ${1 << 20}"
        val evPos = (0 until 3).map(j => s"SELECT ${p(j, "g")} AS p FROM evs").mkString(" UNION ALL ")
        val prPos = (0 until 3).map(j =>
          s"SELECT sid, g, $j AS j, ${p(j, "g")} AS p FROM trs").mkString(" UNION ALL ")
        withCtes(ShingCte,
          "evs AS (SELECT unnest(stoks) AS g FROM shingd WHERE sid % 89 = 7)",
          s"pos AS (SELECT DISTINCT p FROM ($evPos))",
          "trs AS (SELECT sid, unnest(stoks) AS g FROM shingd WHERE sid % 89 <> 7)",
          s"pr AS ($prPos)",
          """ht AS (SELECT sid, g FROM pr JOIN pos USING (p)
            |  GROUP BY sid, g HAVING count(*) = 3)""".stripMargin)(
          "SELECT sid AS did, count(*) AS bloom_hits FROM ht GROUP BY 1 HAVING count(*) >= 60")
      }),

    // data selection under a token budget (60% of corpus tokens): exact
    // above the quality threshold band, proportional hash cut inside it —
    // the only window runs over the <=101-row quality-band aggregate
    Q("k10_token_budget", (s, dir) =>
      graft.ops.CurationOps.tokenBudgetSelect(
        docs(s, dir).select(col("doc_id").as("did"),
          TextOps.qualityScore(col("text")).as("quality"),
          TextOps.wordCount(col("text")).as("n_tok")),
        num = 6, den = 10),
      s"""WITH base AS (
         |  SELECT doc_id AS did, $QualitySql AS quality,
         |    cast(len(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS bigint) AS n_tok
         |  FROM documents),
         |bands AS (SELECT quality, cast(sum(n_tok) AS bigint) AS band_toks FROM base GROUP BY 1),
         |tot AS (SELECT (cast(sum(n_tok) AS bigint) * 6) // 10 AS budget FROM base),
         |cum AS (SELECT quality, band_toks, budget,
         |    cast(sum(band_toks) OVER (ORDER BY quality DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS cum
         |  FROM bands CROSS JOIN tot),
         |fullagg AS (SELECT min(quality) AS qstar, max(cum) AS used
         |  FROM cum WHERE cum <= budget),
         |boundary AS (SELECT quality AS bq, band_toks AS btoks, budget
         |  FROM cum WHERE cum > budget ORDER BY quality DESC LIMIT 1),
         |cut AS (SELECT bq, qstar, ((budget - coalesce(used, 0)) * 1000000) // btoks AS rate_e6
         |  FROM fullagg LEFT JOIN boundary ON true)
         |SELECT did, quality, n_tok FROM base CROSS JOIN cut
         |WHERE (qstar IS NOT NULL AND quality >= qstar)
         |   OR (quality = bq AND ${drawSql("did")} % 1000000 < rate_e6)""".stripMargin),

    // length-grouped batch assembly: global (n_tok, doc_id) rank via the
    // distributed prefix-sum (range partition + per-partition counts — no
    // single-task global window), batches of 32 consecutive ranks,
    // per-batch padding waste when padded to the batch max
    Q("k11_len_batches", (s, dir) =>
      graft.ops.Packing.lengthBatches(Tables.tokens(s, dir), batchSize = 32),
      withCtes(ToksCte,
        """rk AS (SELECT n_tok, row_number() OVER (ORDER BY n_tok, doc_id) AS rk
          |  FROM (SELECT doc_id, cast(len(tokens) AS int) AS n_tok FROM toks))""".stripMargin)(
        """SELECT (rk-1)//32 AS batch_id, count(*) AS n_seqs, min(n_tok) AS min_tok,
          |  max(n_tok) AS max_tok, cast(sum(n_tok) AS bigint) AS sum_tok,
          |  max(n_tok)*count(*) - cast(sum(n_tok) AS bigint) AS pad_waste
          |FROM rk GROUP BY 1""".stripMargin)),

    // per-source token-distribution drift vs the corpus (integer-exact
    // total-variation distance) — the data-mix diagnostic
    Q("t10_source_drift", (s, dir) =>
      graft.ops.CurationOps.sourceDrift(
        Tables.tokens(s, dir).select(col("source"), explode(col("tokens")).as("tok"))),
      withCtes(ToksCte,
        "tv AS (SELECT source, unnest(tokens) AS tok FROM toks)",
        "st AS (SELECT source, tok, count(*) AS c FROM tv GROUP BY 1, 2)",
        "srctot AS (SELECT source, cast(sum(c) AS bigint) AS ns FROM st GROUP BY 1)",
        "gtok AS (SELECT tok, cast(sum(c) AS bigint) AS ct FROM st GROUP BY 1)",
        "tot AS (SELECT cast(sum(ct) AS bigint) AS n FROM gtok)")(
        """SELECT source,
          |  ((l1_present + (n - cov) * ns) * 1000000) // (2 * n * ns) AS tv_e6
          |FROM (
          |  SELECT st.source,
          |    cast(sum(abs(st.c * n - ct * ns)) AS bigint) AS l1_present,
          |    cast(sum(ct) AS bigint) AS cov, min(ns) AS ns, min(n) AS n
          |  FROM st JOIN gtok USING (tok) JOIN srctot USING (source) CROSS JOIN tot
          |  GROUP BY 1)""".stripMargin)),

    // deterministic domain-mix resampling by per-source target rates
    Q("k06_domain_mix", (s, dir) =>
      graft.ops.CurationOps.domainMixSample(docs(s, dir)),
      s"""SELECT doc_id AS did, source FROM documents
         |WHERE ${drawSql("doc_id")} % 1000
         |      < ((cast(substr(source, 4) AS int) % 4) + 1) * 250""".stripMargin),

    // temperature-scaled mixture weights (w_i ∝ n_i^(1/2)): per-domain
    // sampling ppm, one-corpus token budget, and epoch factor — all int64
    Q("k12_temp_mix", (s, dir) =>
      graft.ops.CurationOps.temperatureMix(
        Tables.tokens(s, dir).select(col("source"), col("n_tok"))),
      withCtes(ToksCte,
        """per AS (SELECT source, count(*) AS n_docs,
          |    cast(sum(cast(len(tokens) AS bigint)) AS bigint) AS tok
          |  FROM toks GROUP BY 1),
          |w AS (SELECT source, n_docs, tok,
          |    cast(floor(sqrt(cast(tok AS double))) AS bigint) AS w
          |  FROM per WHERE tok > 0),
          |tot AS (SELECT cast(sum(w) AS bigint) AS sum_w,
          |    cast(sum(tok) AS bigint) AS t_tot FROM w),
          |m AS (SELECT source, n_docs, tok, (w * 1000000) // sum_w AS weight_ppm,
          |    (t_tot // sum_w) * w + ((t_tot % sum_w) * w) // sum_w AS samp_tok
          |  FROM w CROSS JOIN tot)""".stripMargin)(
        """SELECT source, n_docs, tok, weight_ppm, samp_tok,
          |  (samp_tok // tok) * 1000000 + ((samp_tok % tok) * 1000000) // tok AS epochs_e6
          |FROM m""".stripMargin)),

    // fixed-size overlapping chunking (the RAG-ingestion splitter):
    // 200-char chunks at stride 150 (50-char overlap), md5 per chunk so
    // reconstruction is oracle-checked without shipping chunk bodies
    Q("t16_chunks", (s, dir) =>
      graft.ops.CurationOps.chunkDocs(docs(s, dir), size = 200, stride = 150),
      // t16 twin: identical start/size arithmetic, md5 parity (the d17
      // contract), empty docs yield no chunks
      """SELECT did, chunk_idx, chunk_idx * 150 + 1 AS start,
        |  cast(length(chunk) AS bigint) AS clen, md5(chunk) AS chunk_md5
        |FROM (
        |  SELECT doc_id AS did, cast(i AS bigint) AS chunk_idx,
        |    substr(text, cast(i * 150 + 1 AS int), 200) AS chunk
        |  FROM (SELECT doc_id, text,
        |          unnest(range(0, (length(text) + 149) // 150)) AS i
        |        FROM documents WHERE length(text) > 0))""".stripMargin),

    // iterative BPE merge training (Sennrich et al. 2016): 3 merge rounds
    // over the word vocabulary, greedy non-overlap application via
    // gaps-and-islands; emits each round's top-5 pair table (rank 1 = the
    // merge applied) — the trained artifact k07's one-shot count is not
    Q("k17_bpe_train", (s, dir) =>
      graft.ops.CurationOps.bpeTrain(docs(s, dir), rounds = 3, topM = 5),
      // k17 twin: the 3-round BPE recursion unrolled — per round a pair
      // count (self-join on pos+1 ≡ the Spark lead over dense positions), a
      // LIMIT-1 merge pick, the gaps-and-islands head selection, and the
      // rebuilt symbol frame with tails dropped and positions re-ranked
      withCtes(BpeCtes: _*)(
        "SELECT * FROM o1 UNION ALL SELECT * FROM o2 UNION ALL SELECT * FROM o3")),

    // the ENCODE side of k17: each in-vocabulary word's segmentation
    // after the 3 trained merges (space-joined symbols, symbol count)
    Q("k18_bpe_segments", (s, dir) =>
      graft.ops.CurationOps.bpeSegments(docs(s, dir), rounds = 3),
      // k18 twin: the same recursion's FINAL symbol frame (s4), ordered
      // string_agg per word
      withCtes(BpeCtes: _*)(
        """SELECT w, wf, cast(count(*) AS bigint) AS n_sym,
          |  string_agg(sym, ' ' ORDER BY pos) AS seg
          |FROM s4 GROUP BY w, wf""".stripMargin)),

    // data-constrained epoch schedule (Muennighoff et al. 2023): a
    // 3-corpus-worth budget split by the k12 sqrt weights, each source
    // capped at 3 passes over its unique tokens; unique/repeated split
    // and the capped flag per source — all int64, overflow-safe alloc
    Q("k16_epoch_schedule", (s, dir) =>
      graft.ops.CurationOps.epochSchedule(
        Tables.tokens(s, dir).select(col("source"), col("n_tok")),
        budgetX = 3, capEpochs = 3),
      // k16 twin: k12's per/w/tot CTEs, a 3x budget through the same
      // overflow-safe floor identity, least() cap at 3 epochs
      withCtes(ToksCte,
        """per AS (SELECT source,
          |    cast(sum(cast(len(tokens) AS bigint)) AS bigint) AS tok
          |  FROM toks GROUP BY 1),
          |w AS (SELECT source, tok,
          |    cast(floor(sqrt(cast(tok AS double))) AS bigint) AS w
          |  FROM per WHERE tok > 0),
          |tot AS (SELECT cast(sum(w) AS bigint) AS sum_w,
          |    cast(sum(tok) AS bigint) AS t_tot FROM w),
          |al AS (SELECT source, tok, w, alloc_raw,
          |    least(alloc_raw, tok * 3) AS alloc
          |  FROM (SELECT source, tok, w,
          |      (budget // sum_w) * w + ((budget % sum_w) * w) // sum_w AS alloc_raw
          |    FROM (SELECT source, tok, w, t_tot * 3 AS budget, sum_w
          |          FROM w CROSS JOIN tot)))""".stripMargin)(
        """SELECT source, tok, w, alloc_raw, alloc,
          |  (alloc // tok) * 1000000 + ((alloc % tok) * 1000000) // tok AS epochs_e6,
          |  least(alloc, tok) AS unique_tok,
          |  alloc - least(alloc, tok) AS repeated_tok,
          |  cast(CASE WHEN alloc_raw > tok * 3 THEN 1 ELSE 0 END AS bigint) AS capped
          |FROM al""".stripMargin)),

    // semantic clustering (SemDeDup stage 1 / trained-IVF index build):
    // 2-iteration Lloyd k-means in sketch space, division-free
    // sum-centroids so every value stays exact int64 (see Ann scaladoc)
    Q("i03_kmeans", (s, dir) =>
      Ann.kmeansSketch(emb(s, dir)),
      // twin of the sketch-space k-means: iterations unrolled, centroids as
      // exact int64 sums, scores as the identical left-assoc double chains
      withCtes(kmeansCtes: _*)(
        "SELECT vec_id, cid AS cluster FROM asn3")),

    // SemDeDup stage 2: prune cluster members whose exact cosine to their
    // cluster representative clears 0.25 (see DedupOps.semDedup)
    Q("d11_semdedup", (s, dir) =>
      DedupOps.semDedup(emb(s, dir), minCos = 0.25),
      // SemDeDup stage 2: min-id representative per k-means cluster, exact
      // cosine of each member to its representative, prune at >= 0.25
      withCtes(kmeansCtes :+
        "reps AS (SELECT cid, min(vec_id) AS rep_id FROM asn3 GROUP BY cid)": _*)(
        s"""SELECT a.vec_id, a.cid AS cluster, r.rep_id,
           |  cast(round(${cosSql("m.v", "rv.v")}*1000000) AS bigint) AS cos_e6,
           |  CASE WHEN ${cosSql("m.v", "rv.v")} >= 0.25 THEN 1 ELSE 0 END AS pruned
           |FROM asn3 a JOIN reps r ON r.cid = a.cid
           |JOIN edd m ON m.vec_id = a.vec_id
           |JOIN edd rv ON rv.vec_id = r.rep_id
           |WHERE a.vec_id <> r.rep_id""".stripMargin)),

    // k-means cluster-quality audit (the i03 sibling of i11's IVF
    // balance): per cluster n, cohesion (mean member->centroid cosine),
    // separation (nearest-other-centroid cosine) — k rows at any scale
    Q("i12_cluster_quality", (s, dir) =>
      Ann.kmeansQuality(emb(s, dir)),
      // i12 twin: the shared kmeans CTEs' final assignment (asn3) and
      // centroids (cent2); full cosine (both norms), per-member e6 floor,
      // sign-safe floor mean, k×k centroid self-join for separation
      {
        val dotF = (0 until 32).map(t => s"cast(k.s$t AS double)*c.c$t").mkString(" + ")
        val knorm = (0 until 32).map(t => s"cast(k.s$t AS double)*k.s$t").mkString(" + ")
        val cnorm = (0 until 32).map(t => s"cast(c.c$t AS double)*c.c$t").mkString(" + ")
        val dotCC = (0 until 32).map(t => s"cast(a.c$t AS double)*b.c$t").mkString(" + ")
        val anorm = (0 until 32).map(t => s"cast(a.c$t AS double)*a.c$t").mkString(" + ")
        val bnorm = (0 until 32).map(t => s"cast(b.c$t AS double)*b.c$t").mkString(" + ")
        withCtes(kmeansCtes :+
          s"""memq AS (SELECT x.cid,
             |    cast(floor(($dotF) / (sqrt($knorm) * sqrt($cnorm)) * 1000000) AS bigint) AS ce6
             |  FROM asn3 x JOIN sk k ON k.vec_id = x.vec_id JOIN cent2 c ON c.cid = x.cid)""".stripMargin :+
          """perq AS (SELECT cid AS cluster, cast(count(*) AS bigint) AS n,
            |    cast(sum(ce6) AS bigint) AS se FROM memq GROUP BY 1)""".stripMargin :+
          s"""nnq AS (SELECT a.cid,
             |    max(cast(floor(($dotCC) / (sqrt($anorm) * sqrt($bnorm)) * 1000000) AS bigint)) AS nn_cent_cos_e6
             |  FROM cent2 a JOIN cent2 b ON b.cid <> a.cid GROUP BY 1)""".stripMargin: _*)(
          """SELECT cluster, n, (se + n * 1000000) // n - 1000000 AS mean_cos_e6,
            |  nn_cent_cos_e6
            |FROM perq JOIN nnq ON nnq.cid = perq.cluster""".stripMargin)
      }),

    // substring-level dedup signal: 24-char windows repeated across >= 3 docs
    Q("d12_repeat_substr", (s, dir) =>
      // 24 substr reads per position: must not run in one input split
      graft.ops.CurationOps.repeatedSubstrings(
        docs(s, dir).repartition(s.sparkContext.defaultParallelism), n = 24, minDocs = 3),
      {
        val fold = (0 until 24).foldLeft("cast(0 AS bigint)") { (acc, j) =>
          s"(($acc*31 + ascii(substr(text, cast(i+$j AS int), 1))) % 1000000007)"
        }
        s"""WITH ss AS (
           |  SELECT DISTINCT doc_id AS sid,
           |    unnest(list_transform(range(1, greatest(length(text)-23, 0)+1),
           |      i -> $fold)) AS sub
           |  FROM documents)
           |SELECT sub, count(*) AS n_docs, min(sid) AS first_sid
           |FROM ss GROUP BY sub HAVING count(*) >= 3""".stripMargin
      }),

    // doc-level memorization risk: share of a doc's distinct 16-char
    // windows that appear in >= 2 docs (d12's signal at document grain)
    Q("t11_substr_novelty", (s, dir) =>
      graft.ops.CurationOps.substringNovelty(
        docs(s, dir).repartition(s.sparkContext.defaultParallelism), n = 16, minDocs = 2),
      {
        val fold = (0 until 16).foldLeft("cast(0 AS bigint)") { (acc, j) =>
          s"(($acc*31 + ascii(substr(text, cast(i+$j AS int), 1))) % 1000000007)"
        }
        s"""WITH ss AS (
           |  SELECT DISTINCT doc_id AS sid,
           |    unnest(list_transform(range(1, greatest(length(text)-15, 0)+1),
           |      i -> $fold)) AS sub
           |  FROM documents),
           |cnt AS (SELECT sub, count(*) AS nd FROM ss GROUP BY 1),
           |per AS (
           |  SELECT sid, count(*) AS n_win,
           |    cast(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS bigint) AS n_shared
           |  FROM ss JOIN cnt USING (sub) GROUP BY 1)
           |SELECT d.doc_id AS sid, coalesce(n_win, 0) AS n_win,
           |  coalesce(n_shared, 0) AS n_shared,
           |  coalesce((n_shared * 1000000) // n_win, 0) AS shared_e6
           |FROM documents d LEFT JOIN per ON per.sid = d.doc_id""".stripMargin
      }),

    // incremental near-dup: the daily delta (sid % 5 == 0) probes the
    // standing corpus's band index by broadcast, survivors verify by exact
    // Jaccard — the corpus side never re-shingles or shuffles on band keys
    Q("d15_incr_lsh", (s, dir) => {
      val sh = shingleRows(s, dir).localCheckpoint(true)
      DedupOps.lshAgainstIndex(sh, col("sid") % 5 === 0, k = 16, r = 4,
        minJacE6 = 300000L)
    },
      // incremental twin: the shared band CTEs restricted to index×delta,
      // then the d04 list_intersect verification with the jac_e6 floor
      withCtes(ShingCte, SigCte, BandsCte,
        """ipairs AS (
          |  SELECT DISTINCT a.sid AS doc_a, b.sid AS doc_b
          |  FROM sbands a JOIN sbands b USING (band_idx, band_key)
          |  WHERE a.sid % 5 <> 0 AND b.sid % 5 = 0)""".stripMargin)(
        s"""SELECT doc_a AS index_id, doc_b AS delta_id, inter,
           |  sz_a AS sz_index, sz_b AS sz_delta,
           |  (inter * 1000000) // (sz_a + sz_b - inter) AS jac_e6
           |FROM (
           |${DedupOps.intersectSql("ipairs", "shingd")})
           |WHERE inter > 0
           |  AND (inter * 1000000) // (sz_a + sz_b - inter) >= 300000""".stripMargin)),

    // exact-substring-dedup interval step (Lee et al. 2022): shared 20-char
    // window positions merged into maximal character spans per doc
    Q("d14_dup_spans", (s, dir) =>
      graft.ops.CurationOps.duplicatedSpans(
        docs(s, dir).repartition(s.sparkContext.defaultParallelism), n = 20, minDocs = 2),
      // gaps-and-islands twin of the duplicated-span merge: same window-hash
      // fold as d12/t11 (per-window at gate scale; Spark slides it), shared
      // positions from the distinct (doc, hash) count, spans via lag-break +
      // running-sum groups, char total = max(pos) - min(pos) + n per span
      {
        val fold = (0 until 20).foldLeft("cast(0 AS bigint)") { (acc, j) =>
          s"(($acc*31 + ascii(substr(text, cast(i+$j AS int), 1))) % 1000000007)"
        }
        s"""WITH w AS (
           |  SELECT doc_id AS sid,
           |    unnest(range(1, greatest(length(text)-19, 0)+1)) AS pos,
           |    unnest(list_transform(range(1, greatest(length(text)-19, 0)+1),
           |      i -> $fold)) AS sub
           |  FROM documents),
           |cnt AS (SELECT sub FROM (SELECT DISTINCT sid, sub FROM w)
           |  GROUP BY sub HAVING count(*) >= 2),
           |sh AS (SELECT w.sid, w.pos FROM w JOIN cnt USING (sub)),
           |fl AS (SELECT sid, pos,
           |    CASE WHEN pos - lag(pos) OVER (PARTITION BY sid ORDER BY pos) > 20
           |      THEN 1 ELSE 0 END AS brk FROM sh),
           |gr AS (SELECT sid, pos,
           |    sum(brk) OVER (PARTITION BY sid ORDER BY pos) AS grp FROM fl),
           |sp AS (SELECT sid, grp, max(pos) - min(pos) + 20 AS chars
           |  FROM gr GROUP BY 1, 2),
           |pd AS (SELECT sid, cast(count(*) AS bigint) AS n_spans,
           |    cast(sum(chars) AS bigint) AS dup_chars FROM sp GROUP BY 1)
           |SELECT d.doc_id AS sid,
           |  coalesce(pd.n_spans, 0) AS n_spans,
           |  coalesce(pd.dup_chars, 0) AS dup_chars,
           |  coalesce((pd.dup_chars * 1000000) // d.n_chars, 0) AS cover_e6
           |FROM documents d LEFT JOIN pd ON pd.sid = d.doc_id""".stripMargin
      }),

    // Gopher/RefinedWeb structural quality-rule battery over a decorated
    // multi-line raw (the corpus text is single-line; the decoration varies
    // every rule deterministically by doc_id, and the oracle re-derives the
    // identical construction — a rule bug cannot self-confirm)
    Q("t12_gopher_rules", (s, dir) => {
      val did = col("doc_id")
      val raw = concat(
        when(did % 3 === 0, lit("- intro item")).otherwise(lit("intro item")),
        when(did % 7 < 3, lit(" 404")).otherwise(lit(" ok")),
        lit("\n"), col("text"), lit("\n"),
        lit("tail "), expr("repeat('#', cast(doc_id % 5 AS int))"),
        when(did % 4 === 1, lit(" more...")).otherwise(lit(" more")))
      TextOps.gopherRules(
        docs(s, dir).repartition(s.sparkContext.defaultParallelism)
          .select(did.as("did"), raw.as("raw")))
    },
      """WITH raw AS (
        |  SELECT doc_id AS did,
        |    (CASE WHEN doc_id % 3 = 0 THEN '- intro item' ELSE 'intro item' END)
        |    || (CASE WHEN doc_id % 7 < 3 THEN ' 404' ELSE ' ok' END)
        |    || chr(10) || text || chr(10) || 'tail '
        |    || repeat('#', cast(doc_id % 5 AS int))
        |    || (CASE WHEN doc_id % 4 = 1 THEN ' more...' ELSE ' more' END) AS t
        |  FROM documents),
        |m AS (
        |  SELECT did,
        |    cast(len(string_split(t, chr(10))) AS bigint) AS n_lines,
        |    cast(len(list_filter(string_split(replace(t, chr(10), ' '), ' '),
        |      w -> length(w) > 0)) AS bigint) AS n_words,
        |    cast(length(replace(replace(t, ' ', ''), chr(10), '')) AS bigint) AS sum_wlen,
        |    cast(len(list_filter(string_split(replace(t, chr(10), ' '), ' '),
        |      w -> regexp_matches(w, '[a-z]'))) AS bigint) AS alpha_w,
        |    cast(length(t) - length(replace(t, '#', '')) AS bigint) AS sym_hits,
        |    cast(len(list_filter(string_split(t, chr(10)), l -> l LIKE '- %')) AS bigint) AS bullet_l,
        |    cast(len(list_filter(string_split(t, chr(10)), l -> l LIKE '%...')) AS bigint) AS ell_l,
        |    cast(len(list_filter(string_split(replace(t, chr(10), ' '), ' '),
        |      w -> w = 'the' OR w = 'a' OR w = 'and' OR w = 'of' OR w = 'to' OR w = 'in')) AS bigint) AS stop_hits
        |  FROM raw),
        |r AS (
        |  SELECT did, n_words, stop_hits,
        |    (sum_wlen * 1000000) // n_words AS mwl_e6,
        |    (alpha_w * 1000000) // n_words AS alpha_e6,
        |    (sym_hits * 1000000) // n_words AS sym_e6,
        |    (bullet_l * 1000000) // n_lines AS bullet_e6,
        |    (ell_l * 1000000) // n_lines AS ellipsis_e6
        |  FROM m)
        |SELECT *, cast(CASE WHEN n_words BETWEEN 10 AND 1000
        |    AND mwl_e6 BETWEEN 3000000 AND 10000000 AND sym_e6 < 100000
        |    AND bullet_e6 <= 900000 AND ellipsis_e6 <= 300000
        |    AND alpha_e6 >= 800000 AND stop_hits >= 2
        |  THEN 1 ELSE 0 END AS int) AS gopher_pass
        |FROM r""".stripMargin),

    // deterministic per-source uniform sample (20 docs/source) via the
    // salted two-level rank — sources are the archetypal hot window key
    Q("k13_strat_sample", (s, dir) =>
      graft.ops.CurationOps.stratifiedSample(docs(s, dir), k = 20),
      s"""SELECT source, did, draw, rank FROM (
         |  SELECT source, doc_id AS did,
         |    ${drawSql("doc_id")} AS draw,
         |    cast(row_number() OVER (PARTITION BY source
         |      ORDER BY ${drawSql("doc_id")}, doc_id) AS int) AS rank
         |  FROM documents)
         |WHERE rank <= 20""".stripMargin),

    // DSIR-style target-domain selection: hashed 8-gram features, target
    // model = the 'en' slice, top-100 raw docs by the ln-free
    // linear-discriminant score (one codegen window pass per doc)
    Q("k15_dsir", (s, dir) =>
      graft.ops.CurationOps.dsirSelect(
        docs(s, dir).repartition(s.sparkContext.defaultParallelism),
        targetPred = col("lang") === "en", topK = 100),
      {
        // twin of WindowHashes(text, 8) % 1024: the d12 per-window fold
        val fold = (0 until 8).foldLeft("cast(0 AS bigint)") { (acc, j) =>
          s"(($acc*31 + ascii(substr(text, cast(i+$j AS int), 1))) % 1000000007)"
        }
        s"""WITH f AS (
           |  SELECT doc_id AS did, (lang = 'en') AS is_t,
           |    unnest(list_transform(range(1, greatest(length(text)-7, 0)+1),
           |      i -> $fold % 1024)) AS b
           |  FROM documents),
           |m AS (SELECT b,
           |    sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
           |    sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
           |  FROM f GROUP BY 1),
           |tot AS (SELECT sum(ct) AS ctot, sum(cr) AS crot FROM m),
           |w AS (SELECT b,
           |    ((ct + 1) * 1000000000) // (ctot + 1024)
           |      - ((cr + 1) * 1000000000) // (crot + 1024) AS wt
           |  FROM m CROSS JOIN tot),
           |c AS (SELECT did, b, count(*) AS c FROM f WHERE NOT is_t GROUP BY 1, 2),
           |sc AS (SELECT did, cast(sum(c * wt) AS bigint) AS score,
           |    cast(sum(c) AS bigint) AS n_feat
           |  FROM c JOIN w USING (b) GROUP BY 1)
           |SELECT did, coalesce(n_feat, 0) AS n_feat, coalesce(score, 0) AS score
           |FROM (SELECT doc_id AS did FROM documents WHERE NOT (lang = 'en')) d
           |LEFT JOIN sc USING (did)
           |ORDER BY score DESC, did LIMIT 100""".stripMargin
      }),

    // BPE vocabulary induction, step 1: top-50 adjacent char pairs
    Q("k07_bpe_pairs", (s, dir) =>
      graft.ops.CurationOps.bpePairs(docs(s, dir), topN = 50),
      """WITH wd AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS w
        |  FROM documents),
        |pr AS (
        |  SELECT unnest(list_transform(range(1, greatest(length(w)-1, 0)+1),
        |    i -> substr(w, cast(i AS int), 2))) AS pair
        |  FROM wd WHERE length(w) >= 2),
        |fr AS (SELECT pair, count(*) AS freq FROM pr GROUP BY 1)
        |SELECT pair, freq, cast(row_number() OVER (ORDER BY freq DESC, pair) AS int) AS rank
        |FROM fr ORDER BY freq DESC, pair LIMIT 50""".stripMargin),

    // dataset statistics: exact per-source length quantiles
    Q("k08_len_quantiles", (s, dir) =>
      graft.ops.CurationOps.lengthQuantiles(docs(s, dir)),
      """SELECT source,
        |  cast(round(quantile_cont(n_chars, 0.25)*1000000) AS bigint) AS p25_e6,
        |  cast(round(quantile_cont(n_chars, 0.5)*1000000) AS bigint) AS p50_e6,
        |  cast(round(quantile_cont(n_chars, 0.9)*1000000) AS bigint) AS p90_e6,
        |  cast(round(quantile_cont(n_chars, 0.99)*1000000) AS bigint) AS p99_e6,
        |  count(*) AS docs
        |FROM documents GROUP BY source""".stripMargin),

    // deterministic training-order shuffle (sorted-bucket-writer layout)
    Q("k09_train_order", (s, dir) =>
      graft.ops.CurationOps.trainOrder(docs(s, dir), nBuckets = 256),
      s"""WITH kd AS (
         |  SELECT doc_id, ${drawSql("doc_id")} AS key,
         |         ${drawSql("doc_id")} % 256 AS bucket
         |  FROM documents)
         |SELECT doc_id, bucket,
         |  cast(row_number() OVER (PARTITION BY bucket ORDER BY key, doc_id) AS int) AS ord,
         |  key
         |FROM kd""".stripMargin),

    // contrastive-pair mining for embedding training: anchor + top-1
    // cosine positive + 4 deterministic hash-drawn negatives (j indexes the
    // draw; collisions with anchor/positive are dropped identically in both
    // engines). The corpus-size scalar joins by broadcast — no collect
    Q("i04_contrastive", (s, dir) => {
      val pos = Ann.bruteForceTopK(emb(s, dir), col("vec_id") < 10, k = 1)
        .select(col("q_id").as("anchor"), col("c_id").as("pos_id"))
      val mx = emb(s, dir).agg((max(col("vec_id")) + 1).as("n"))
      pos.crossJoin(broadcast(mx))
        .select(col("anchor"), col("pos_id"), col("n"),
          explode(array((1 to 4).map(lit(_)): _*)).as("j"))
        .withColumn("neg_id",
          (col("anchor") * 31 + col("j") * lit(2654435761L)) % col("n"))
        .where(col("neg_id") =!= col("anchor") && col("neg_id") =!= col("pos_id"))
        .select("anchor", "pos_id", "j", "neg_id")
    },
      withCtes(EmbCte,
        s"""pos AS (
           |  SELECT q_id AS anchor, c_id AS pos_id FROM (
           |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cosSql("q.v", "c.v")} DESC, c.vec_id) AS rank
           |    FROM (SELECT * FROM edd WHERE vec_id < 10) q
           |    JOIN edd c ON c.vec_id <> q.vec_id) WHERE rank = 1)""".stripMargin,
        "mx AS (SELECT max(vec_id) + 1 AS n FROM embeddings)")(
        """SELECT anchor, pos_id, j, (anchor*31 + j*2654435761) % n AS neg_id
          |FROM pos CROSS JOIN mx CROSS JOIN (VALUES (1), (2), (3), (4)) t(j)
          |WHERE (anchor*31 + j*2654435761) % n <> anchor
          |  AND (anchor*31 + j*2654435761) % n <> pos_id""".stripMargin)),

    // semi-hard negative mining: negatives ranked by cosine INSIDE the
    // FaceNet band (pos_cos − 0.2 ≤ neg_cos < pos_cos) — the Q×N frame
    // materializes once and both rank passes are salted two-level top-k
    Q("i05_hard_negatives", (s, dir) =>
      Ann.semiHardNegatives(emb(s, dir), col("vec_id") < 10, k = 4,
        marginE6 = 200000L),
      withCtes(EmbCte,
        s"""scored AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |    cast(round(${cosSql("q.v", "c.v")}*1000000) AS bigint) AS cos
           |  FROM (SELECT * FROM edd WHERE vec_id < 10) q
           |  JOIN edd c ON c.vec_id <> q.vec_id)""".stripMargin,
        """pos AS (
          |  SELECT q_id, c_id AS pos_id, cos AS pos_cos FROM (
          |    SELECT q_id, c_id, cos,
          |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
          |    FROM scored) WHERE rk = 1)""".stripMargin)(
        """SELECT q_id AS anchor, pos_id, pos_cos AS pos_cos_e6,
          |  c_id AS neg_id, cos AS neg_cos_e6, rank
          |FROM (
          |  SELECT s.q_id, s.c_id, s.cos, p.pos_id, p.pos_cos,
          |    cast(row_number() OVER (PARTITION BY s.q_id
          |      ORDER BY s.cos DESC, s.c_id) AS int) AS rank
          |  FROM scored s JOIN pos p ON p.q_id = s.q_id
          |  WHERE s.c_id <> p.pos_id AND s.cos < p.pos_cos
          |    AND s.cos >= p.pos_cos - 200000)
          |WHERE rank <= 4""".stripMargin)),

    // int8 quantization: q = floor(x·scale + 0.5), scale = 127/max|x|
    // (floor(x+0.5) IS the spec — identical in both engines, unlike the
    // engines' differing round-half modes). The quantized vector is emitted
    // as a csv string: the driver's gate sorts result columns in pandas and
    // raw arrays are unhashable there, so every driver query must project
    // arrays through a deterministic scalar encoding.
    Q("i01_embed_quantize", (s, dir) => {
      val v = transform(col("embedding"), x => x.cast("double"))
      val maxAbs = array_max(transform(v, x => abs(x)))
      val scale = lit(127.0) / maxAbs
      emb(s, dir).select(col("vec_id"),
        round(scale * 1e6).cast("long").as("scale_e6"),
        concat_ws(",", transform(v, x => floor(x * scale + lit(0.5)).cast("int"))).as("q_csv"))
    },
      withCtes(EmbCte)(
        """SELECT vec_id, cast(round(127.0/maxabs*1000000) AS bigint) AS scale_e6,
          |  array_to_string(list_transform(v, x -> cast(cast(floor(x*(127.0/maxabs)+0.5) AS int) AS varchar)), ',') AS q_csv
          |FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM edd)""".stripMargin)),

    // L2 normalization (sequential-fold norm, oracle-exact doubles)
    Q("i02_embed_normalize", (s, dir) => {
      val v = transform(col("embedding"), x => x.cast("double"))
      val norm = sqrt(Ann.dot(v, v))
      emb(s, dir).select(col("vec_id"),
        concat_ws(",", transform(v, x => round(x / norm * 1e6).cast("long"))).as("unit_e6_csv"))
    },
      withCtes(EmbCte)(
        """SELECT vec_id, array_to_string(list_transform(v, x -> cast(cast(round(x/nrm*1000000) AS bigint) AS varchar)), ',') AS unit_e6_csv
          |FROM (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM edd)""".stripMargin)),

    // gap-based sessionization: a >10-minute silence starts a new session
    Q("e05_sessionize", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("tus"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      ev.withColumn("gap", col("tus") - lag(col("tus"), 1).over(w))
        .withColumn("new_sess", when(col("gap").isNull || col("gap") > 600000000L, 1L).otherwise(0L))
        .withColumn("session_idx",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("event_id", "user_id", "session_idx")
    },
      """SELECT event_id, user_id,
        |  cast(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS session_idx
        |FROM (
        |  SELECT event_id, user_id, tus,
        |    CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL
        |         OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) > 600000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events))""".stripMargin)
  )
}
