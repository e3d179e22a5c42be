package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Ann
import graft.sources.Tables

/** Recall of the approximate ANN paths against the brute-force baseline —
  * the accuracy/cost trade every scale path exists to make measurable.
  *
  * Measured at sf0.1 (2000 vectors). The corpus is isotropic (no planted
  * cluster structure: neighbor cos ≈0.4 vs bulk σ=0.125), so bucket-only
  * LSH/IVF recall is bounded low at small candidate fractions by geometry,
  * while the sketch-rerank path (whose recall follows the JL noise bound,
  * independent of clustering) must clear recall@5 ≥ 0.8 while exact-scoring
  * at most 1/5 of the corpus per query.
  */
class AnnRecallSpec extends SparkSpec {

  private val SfBig = "/root/testdata/sf0.1"

  private def topSet(df: DataFrame): Map[Long, Set[Long]] =
    df.select("q_id", "c_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  private def recall(approx: DataFrame, exact: DataFrame): Double = {
    val a = topSet(approx); val e = topSet(exact)
    val scores = e.map { case (q, truth) =>
      a.get(q).map(g => (g intersect truth).size.toDouble / truth.size).getOrElse(0.0)
    }
    scores.sum / scores.size
  }

  test("sketch-rerank reaches recall@5 >= 0.8 scanning <= 1/5 of the corpus exactly") {
    val emb = Tables.embeddings(spark, SfBig)
    val qf = col("vec_id") < 20
    val exact = Ann.bruteForceTopK(emb, qf, k = 5)
    val sk = Ann.sketchRerankTopK(emb, qf, k = 5) // SketchCandDiv = 5 ⇒ 20% by construction
    val r = recall(sk, exact)
    info(f"recall@5 sketch-rerank (candidates = 1/5 of corpus): $r%.3f")
    assert(topSet(sk).size === 20)
    assert(r >= 0.8, f"sketch-rerank recall $r%.3f below 0.8")
  }

  test("binary Hamming-rerank recall beats 1-bit geometry floor at <= ~1/5 candidates") {
    val emb = Tables.embeddings(spark, SfBig)
    val qf = col("vec_id") < 20
    val exact = Ann.bruteForceTopK(emb, qf, k = 5)
    val ham = Ann.hammingRerankTopK(emb, qf, k = 5)
    val r = recall(ham, exact)
    info(f"recall@5 binary hamming-rerank (32-bit codes, ~1/5 candidates): $r%.3f")
    assert(topSet(ham).size === 20)
    // 1-bit codes lose magnitude info: expected between the bucket paths
    // and the int-sketch scan on this isotropic corpus (neighbor bit
    // agreement ~0.63 ⇒ neighbor Hamming ~N(11.7, 2.7) vs bulk ~N(16, 2.8))
    assert(r >= 0.45, f"hamming-rerank recall $r%.3f below 0.45")
  }

  test("PQ/ADC recall lands between 1-bit Hamming and the int-sketch scan") {
    val emb = Tables.embeddings(spark, SfBig)
    val qf = col("vec_id") < 20
    val exact = Ann.bruteForceTopK(emb, qf, k = 5)
    val pq = Ann.pqTopK(emb, qf, k = 5)
    val r = recall(pq, exact)
    info(f"recall@5 PQ 8x16 ADC (~1/5 candidates): $r%.3f")
    assert(topSet(pq).size === 20)
    // 4-bit-per-subspace codes carry magnitude (unlike a05's sign bits)
    // but quantize to 16 sampled codewords per subspace on an isotropic
    // corpus — expected above the 1-bit floor, below the exact-int sketch
    assert(r >= 0.45, f"PQ recall $r%.3f below 0.45")
  }

  test("IVF-PQ composition recall tracks its coarse stage at a quarter of its scan") {
    val emb = Tables.embeddings(spark, SfBig)
    val qf = col("vec_id") < 20
    val exact = Ann.bruteForceTopK(emb, qf, k = 5)
    // ivfPqTopK probes 64 of its 256 cells
    val ivf = Ann.ivfTopK(emb, qf, k = 5, nProbe = 64)
    val ivfpq = Ann.ivfPqTopK(emb, qf, k = 5)
    val rIvf = recall(ivf, exact)
    val r = recall(ivfpq, exact)
    info(f"recall@5 IVF nProbe=64 (~1/4 corpus, full-width rerank): $rIvf%.3f")
    info(f"recall@5 IVF-PQ (same cells, ADC keeps 1/2 -> ~1/8 corpus): $r%.3f")
    assert(topSet(ivfpq).size === 20)
    // the ADC half-cut can only lose what the coarse stage admitted: the
    // composition must stay within reach of its IVF ceiling and clearly
    // above the unranked-bucket floor on this isotropic corpus
    assert(r >= rIvf - 0.25, f"IVF-PQ recall $r%.3f fell too far under IVF $rIvf%.3f")
    assert(r >= 0.4, f"IVF-PQ recall $r%.3f below 0.4")
  }

  test("multi-probe LSH and trained IVF recall are measurable and non-degenerate") {
    val emb = Tables.embeddings(spark, SfBig)
    val qf = col("vec_id") < 20
    val exact = Ann.bruteForceTopK(emb, qf, k = 5)
    val lsh = Ann.multiTableLshTopK(emb, qf, k = 5, probeRadius = 2)
    val lsh0 = Ann.multiTableLshTopK(emb, qf, k = 5, probeRadius = 0)
    val ivf = Ann.ivfTopK(emb, qf, k = 5, nProbe = 32)
    val rLsh = recall(lsh, exact)
    val rLsh0 = recall(lsh0, exact)
    val rIvf = recall(ivf, exact)
    info(f"recall@5: multi-probe lsh(r=2)=$rLsh%.3f single-probe lsh=$rLsh0%.3f " +
      f"ivf(256 cells, nProbe=32)=$rIvf%.3f (isotropic corpus)")
    // full result sets; multi-probe must decisively beat both the
    // single-probe floor and the bucket-geometry bound on this corpus
    assert(topSet(lsh).size === 20 && topSet(ivf).size === 20)
    assert(rLsh >= 0.6, f"multi-probe LSH recall $rLsh%.3f below 0.6")
    assert(rLsh > rLsh0 + 0.2, f"multi-probe $rLsh%.3f not clearly above single-probe $rLsh0%.3f")
    assert(rIvf > 0.15 && rIvf <= 1.0)
  }
}
