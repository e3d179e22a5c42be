package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus retrieval: BM25 top-k search over the documents table — the
  * primitive curation pipelines use for decontamination-by-search and
  * eval-similar mining (find the training docs most relevant to a query
  * before a human/LLM looks at them).
  *
  * Cross-engine exactness: this is the RATIONAL-idf BM25 variant —
  * idf = (N − df + 0.5)/(df + 0.5), i.e. the standard Robertson idf
  * WITHOUT the final ln. ln's rounding is libm-specific (JVM vs DuckDB may
  * differ in the last ulp, breaking hash equality), while +,−,×,÷ on
  * doubles are IEEE-754 exact-rounded everywhere; ln is monotone, so for a
  * single-term query the ranking is identical and for multi-term queries
  * this is the documented score variant, not an approximation of the other
  * one. The tf saturation term is untouched:
  * tf·(k1+1)/(tf + k1·(1−b + b·len/avgdl)).
  *
  * Scale shape: the term filter applies BEFORE any aggregation (only query
  * terms survive the explode — O(matching tokens), not O(corpus tokens));
  * df and the corpus stats are tiny broadcast aggregates; the score is a
  * per-doc map-side-combined aggregate with a FIXED-ORDER sum over the
  * query terms (one conditional max per term — addition order never
  * depends on row order, so a parallel sum cannot reorder it); top-k is
  * TakeOrderedAndProject, never a global sort.
  */
object Retrieval {

  /** BM25's tf saturation k1 and length normalization b. */
  private val K1 = 1.2
  private val B = 0.75

  /** BM25 top-k: (doc_id, score_e6) of the k highest-scoring docs for the
    * fixed `queryTerms`, ties broken by doc_id. [[K1]] and [[B]] are
    * interpolated into [[bm25OracleSql]] from the SAME Scala doubles so
    * both engines evaluate bit-identical chains.
    */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int): DataFrame = {
    val (k1, b) = (K1, B)
    val words = docs.select(col("doc_id"),
      explode(filter(split(col("text"), " "), w => length(w) > 0)).as("w"))
    val dl = docs.select(col("doc_id"), TextOps.wordCount(col("text")).as("len"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("len")).as("sl"))
    val tf = words.where(col("w").isin(queryTerms: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val joined = tf.join(broadcast(dfreq), "w").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
    val avgdl = col("sl").cast("double") / col("n").cast("double")
    val idf = ((col("n") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val tfn = (col("tf").cast("double") * lit(k1 + 1)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1 - b) + lit(b) * (col("len").cast("double") / avgdl)))
    val contrib = joined.select(col("doc_id"), col("w"), (idf * tfn).as("c"))
    // fixed-order per-term slots: each doc has ≤1 row per term, so the
    // conditional max PICKS it; the final sum is a literal left-assoc chain
    val slots = queryTerms.zipWithIndex.map { case (t, i) =>
      coalesce(max(when(col("w") === t, col("c"))), lit(0.0)).as(s"c$i")
    }
    val score = queryTerms.indices.map(i => col(s"c$i")).reduceLeft(_ + _)
    contrib.groupBy("doc_id").agg(slots.head, slots.tail: _*)
      .select(col("doc_id"), score.as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), floor(col("score") * 1e6).cast("long").as("score_e6"))
  }

  /** Per-document tf-idf keyword extraction — the topic-signature tagging
    * step curation pipelines run for domain labeling and mixture design:
    * the top `m` terms of each doc by tf · rational-idf (same ln-free idf
    * as [[bm25TopK]], same cross-engine-exactness argument). The per-doc
    * rank is a window PARTITIONED BY doc_id — state bounded by one
    * document's vocabulary (like the d14 span windows), never the corpus;
    * df is one map-side-combined aggregate over distinct (doc, term) rows.
    * Output: (did, term, rank, score_e6).
    */
  def tfidfKeywords(docs: DataFrame, m: Int): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(filter(split(col("text"), " "), w => length(w) > 0)).as("w"))
    val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    // corpus size as a 1-row broadcast stats aggregate (the bm25TopK form,
    // [[bm25TopK]] `stats`) — no driver-side action, no extra corpus job
    val nn = docs.agg(count(lit(1)).as("n"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val idf = ((col("n") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val scored = tf.join(broadcast(dfreq), "w").crossJoin(broadcast(nn))
      .select(col("doc_id").as("did"), col("w").as("term"),
        (col("tf").cast("double") * idf).as("score"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("did").orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(byDoc))
      .where(col("rank") <= m)
      .select(col("did"), col("term"), col("rank"),
        floor(col("score") * 1e6).cast("long").as("score_e6"))
  }

  /** DuckDB twin of [[tfidfKeywords]] (n is the corpus row count — the
    * twin derives it in its own CTE; both engines then evaluate the same
    * (n − df + 0.5)/(df + 0.5) · tf chain).
    */
  def tfidfOracleSql(m: Int): String =
    s"""WITH words AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS w
       |  FROM documents),
       |tf AS (SELECT doc_id, w, cast(count(*) AS bigint) AS tf FROM words GROUP BY 1, 2),
       |nn AS (SELECT cast(count(*) AS bigint) AS n FROM documents),
       |dfreq AS (SELECT w, cast(count(*) AS bigint) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT tf.doc_id AS did, tf.w AS term,
       |    (tf * 1.0) * (((n - df) * 1.0 + 0.5) / (df * 1.0 + 0.5)) AS score
       |  FROM tf JOIN dfreq USING (w) CROSS JOIN nn)
       |SELECT did, term, rank, cast(floor(score * 1000000) AS bigint) AS score_e6
       |FROM (SELECT did, term, score,
       |        cast(row_number() OVER (PARTITION BY did ORDER BY score DESC, term) AS int) AS rank
       |      FROM scored)
       |WHERE rank <= $m""".stripMargin

  /** DuckDB twin of [[bm25TopK]] — identical constants (interpolated from
    * the same Scala doubles; Double.toString round-trips) and identical
    * left-assoc chains.
    */
  def bm25OracleSql(queryTerms: Seq[String], k: Int): String = {
    val (k1, b) = (K1, B)
    val inList = queryTerms.map(t => s"'$t'").mkString(", ")
    val slotSelects = queryTerms.zipWithIndex.map { case (t, i) =>
      s"coalesce(max(CASE WHEN w = '$t' THEN c END), 0.0) AS c$i"
    }.mkString(",\n        ")
    val scoreChain = queryTerms.indices.map(i => s"c$i").mkString(" + ")
    s"""WITH words AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS w
       |  FROM documents),
       |dl AS (
       |  SELECT doc_id,
       |    cast(len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS bigint) AS len
       |  FROM documents),
       |stats AS (SELECT cast(count(*) AS bigint) AS n, cast(sum(len) AS bigint) AS sl FROM dl),
       |tf AS (SELECT doc_id, w, cast(count(*) AS bigint) AS tf
       |       FROM words WHERE w IN ($inList) GROUP BY 1, 2),
       |dfreq AS (SELECT w, cast(count(*) AS bigint) AS df FROM tf GROUP BY 1),
       |contrib AS (
       |  SELECT tf.doc_id, tf.w,
       |    (((n - df) * 1.0 + 0.5) / (df * 1.0 + 0.5)) *
       |    ((tf * 1.0 * ${k1 + 1}) /
       |     (tf * 1.0 + $k1 * (${1 - b} + $b * (len * 1.0 / (sl * 1.0 / (n * 1.0)))))) AS c
       |  FROM tf JOIN dfreq USING (w) JOIN dl USING (doc_id) CROSS JOIN stats),
       |scored AS (
       |  SELECT doc_id, $scoreChain AS score FROM (
       |    SELECT doc_id,
       |        $slotSelects
       |    FROM contrib GROUP BY doc_id))
       |SELECT doc_id, cast(floor(score * 1000000) AS bigint) AS score_e6
       |FROM scored ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }
}
