package graft

import org.apache.spark.sql.functions._
import scala.util.Random

import graft.ops.{Ann, DedupOps, Multimodal, Sketches, TextOps}
import graft.sources.Tables

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("token_fingerprint (codegen Expression) matches Scala reference fold") {
    def ref(ts: Seq[Int]): Long = ts.foldLeft(0L)((a, t) => (a * 31 + t) % 1000000007L)
    val rnd = new Random(7)
    val data = (1 to 50).map(i => (i.toLong, Seq.fill(rnd.nextInt(40))(rnd.nextInt(32768))))
    val df = data.toDF("id", "tokens")
    val got = df.select(col("id"), expr("token_fingerprint(tokens)").as("fp"))
      .as[(Long, Long)].collect().toMap
    data.foreach { case (id, ts) => assert(got(id) === ref(ts), s"id=$id") }
  }

  test("exactDedup keeps exactly one representative per text") {
    val d = Tables.documents(spark, Sf)
    val doubled = d.unionByName(d) // every doc twice
    val deduped = DedupOps.exactDedup(doubled)
    assert(deduped.count() === d.count())
    assert(deduped.select("doc_id").distinct().count() === d.count())
  }

  test("minhash: identical token sets → identical signatures; is a lower bound of all hashes") {
    val docs = Seq(1L -> Seq(5, 9, 12), 2L -> Seq(12, 5, 9), 3L -> Seq(5, 9, 13))
    val rows = docs.flatMap { case (s, ts) => ts.map(t => (s, t)) }.toDF("sid", "tok")
    val sig = DedupOps.minhashSigRows(rows, 8)
      .select(col("sid"), array((0 until 8).map(j => col(s"m$j")): _*))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sig(1L) === sig(2L)) // order-insensitive
    assert(sig(1L) !== sig(3L))
    // m_j is the minimum of the j-th permutation: the array form agrees
    val arr = docs.toDF("sid", "tokens")
      .select(col("sid"), array((0 until 8).map(DedupOps.minhash(col("tokens"), _)): _*))
      .as[(Long, Seq[Long])].collect().toMap
    assert(arr === sig)
  }

  test("duplicateClusters: chains collapse to one component, islands stay apart") {
    // graph: 1-2, 2-3, 3-4 (one chain) and 7-8 (island)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("doc_a", "doc_b")
    val c = DedupOps.duplicateClusters(pairs).as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(c(_) == 1L))
    assert(c(7L) === 7L && c(8L) === 7L)
    assert(c.size === 6)
  }

  test("duplicateClusters runs under the caller's coalescing floor and leaves it in place") {
    // library code must not retune the session: every job of the label
    // loop sees the floor the caller set (jobs carry the session's SQL
    // confs as local properties), and the floor is unchanged afterwards
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("doc_a", "doc_b")
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(key))).getOrElse("unset"))
    }
    withConfs(key -> "64k") {
      org.apache.spark.ListenerCount.drain(sc)
      sc.addSparkListener(l)
      try {
        assert(DedupOps.duplicateClusters(pairs).count() === 6)
        org.apache.spark.ListenerCount.drain(sc)
      } finally sc.removeSparkListener(l)
      assert(spark.conf.get(key) === "64k")
    }
    import scala.jdk.CollectionConverters._
    val floors = seen.asScala.toSeq
    assert(floors.nonEmpty && floors.forall(_ == "64k"), s"floors seen by the jobs: ${floors.distinct}")
  }

  test("softDedupWeights: 1e6 div cluster size, singletons at 1e6, mass conserved per family") {
    // chain 1-2-3-4 (size 4), island 7-8 (size 2), 5/6 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("doc_a", "doc_b")
    val docs = (1L to 8L).toDF("doc_id")
    val w = DedupOps.softDedupWeights(docs, DedupOps.duplicateClusters(pairs))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(w(_) == (4L, 250000L)))
    assert(Seq(7L, 8L).forall(w(_) == (2L, 500000L)))
    assert(Seq(5L, 6L).forall(w(_) == (1L, 1000000L)))
    assert(w.size === 8)
  }

  test("clusterCanonical: keeps the max-quality member, min-id on quality ties") {
    // cluster 1 = {1,2,3}: quality 10/50/50 → tie at 50 → keep 2 (min id);
    // cluster 7 = {7,8}: quality 90/20 → keep 7
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("sid", "cluster")
    val quality = Seq((1L, 10L), (2L, 50L), (3L, 50L), (7L, 90L), (8L, 20L))
      .toDF("sid", "quality")
    val got = DedupOps.clusterCanonical(clusters, quality)
      .select("did", "cluster", "quality", "n_members", "keep")
      .as[(Long, Long, Long, Long, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 1L, 10L, 3L, 0)))
    assert(got(2L) === ((2L, 1L, 50L, 3L, 1)))
    assert(got(3L) === ((3L, 1L, 50L, 3L, 0)))
    assert(got(7L) === ((7L, 7L, 90L, 2L, 1)))
    assert(got(8L) === ((8L, 7L, 20L, 2L, 0)))
  }

  test("bm25TopK matches a sequential reference on a toy corpus") {
    val docs = Seq(
      (1L, "hash join hash"),          // tf(hash)=2, len 3
      (2L, "merge sort merge merge"),  // tf(merge)=3, len 4
      (3L, "window scan"),             // tf(window)=1, len 2
      (4L, "spark hash merge"),        // three query terms, len 3
      (5L, "row scan filter")          // no query terms → absent
    ).toDF("doc_id", "text")
    val terms = Seq("hash", "merge", "window", "spark")
    val got = graft.ops.Retrieval.bm25TopK(docs, terms, k = 5)
      .as[(Long, Long)].collect().toMap
    // sequential reference with the exact same double chains
    val (k1, b) = (1.2, 0.75)
    val avgdl = 15.0 / 5.0
    def idf(df: Long): Double = ((5L - df).toDouble + 0.5) / (df.toDouble + 0.5)
    def tfn(tf: Long, len: Long): Double =
      (tf.toDouble * (k1 + 1)) /
        (tf.toDouble + k1 * ((1 - b) + b * (len.toDouble / avgdl)))
    def e6(x: Double): Long = math.floor(x * 1e6).toLong
    val exp = Map(
      1L -> e6(idf(2) * tfn(2, 3) + 0.0 + 0.0 + 0.0),
      2L -> e6(0.0 + idf(2) * tfn(3, 4) + 0.0 + 0.0),
      3L -> e6(0.0 + 0.0 + idf(1) * tfn(1, 2) + 0.0),
      4L -> e6(idf(2) * tfn(1, 3) + idf(2) * tfn(1, 3) + 0.0 + idf(1) * tfn(1, 3)))
    assert(got === exp)
    // k cuts by (score desc, doc_id): the toy ranking is deterministic
    val top2 = graft.ops.Retrieval.bm25TopK(docs, terms, k = 2)
      .as[(Long, Long)].collect().map(_._1).toSet
    val order = exp.toSeq.sortBy { case (id, s) => (-s, id) }.map(_._1)
    assert(top2 === order.take(2).toSet)
  }

  test("tfidfKeywords ranks by tf·idf per doc, score-desc term-asc ties") {
    val docs = Seq(
      (1L, "hash hash hash scan"),  // hash tf=3 rare-ish, scan tf=1 common
      (2L, "scan scan join"),
      (3L, "scan join")
    ).toDF("doc_id", "text")
    val got = graft.ops.Retrieval.tfidfKeywords(docs, m = 2)
      .select("did", "term", "rank").as[(Long, String, Int)].collect().toSet
    // df: hash 1, scan 3, join 2; n=3
    // idf: hash (2.5/1.5), scan (0.5/3.5), join (1.5/2.5)
    // doc1: hash 3·1.667=5.0 > scan 0.143 → (hash 1, scan 2)
    // doc2: join 0.6 > scan 2·0.143=0.286 → (join 1, scan 2)
    // doc3: join 0.6 > scan 0.143 → (join 1, scan 2)
    assert(got === Set((1L, "hash", 1), (1L, "scan", 2),
      (2L, "join", 1), (2L, "scan", 2), (3L, "join", 1), (3L, "scan", 2)))
  }

  test("jaccardRows: identical docs → 1.0, disjoint docs → 0.0, partial overlap exact") {
    val rows = Seq(1L -> Seq(1, 2, 3), 2L -> Seq(1, 2, 3), 3L -> Seq(9, 10, 11),
        4L -> Seq(1, 2, 7, 8))
      .flatMap { case (s, ts) => ts.map(t => (s, t)) }.toDF("sid", "tok")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    val j = DedupOps.jaccardRows(rows, pairs)
      .select("doc_a", "doc_b", "inter", "jaccard").as[(Long, Long, Long, Double)].collect()
      .map { case (a, b, i, v) => (a, b) -> (i, v) }.toMap
    assert(j === Map((1L, 2L) -> (3L, 1.0), (1L, 3L) -> (0L, 0.0),
      (1L, 4L) -> (2L, 0.4))) // |{1,2}| / |{1,2,3,7,8}|
  }

  test("allPairsSimilarity == brute force at the J=1/2 boundary (exact, no LSH miss)") {
    // constructed boundary corpus, one row of distinct tokens per document:
    // (1,2) J=4/8=0.5 exactly (kept), (3,4) J=2/4=0.5 (kept), (5,6) J=1/5
    // (dropped), (7,8) disjoint (dropped); 9 has no token at all
    val docs = Seq(
      1L -> Seq(1, 2, 3, 4), 2L -> Seq(1, 2, 3, 4, 5, 6, 7, 8),
      3L -> Seq(11, 12, 13), 4L -> Seq(11, 12, 14),
      5L -> Seq(21, 22, 23), 6L -> Seq(21, 24, 25),
      7L -> Seq(31, 32), 8L -> Seq(33, 34), 9L -> Seq()
    ).toDF("sid", "ts")
    val got = DedupOps.allPairsSimilarity(docs, tE6 = 500000L)
      .select("doc_a", "doc_b", "jac_e6").as[(Long, Long, Long)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(got === Map((1L, 2L) -> 500000L, (3L, 4L) -> 500000L))

    // corpus-level exactness: equals driver-side brute force over ALL pairs
    // (the oracle mirrors the prefix filter, so only brute force can catch
    // a false negative of the candidate lemma). Planted beside the corpus:
    // a text too short for any 8-char window, and a pair whose texts repeat
    // their windows, so their token sets are far smaller than their texts
    val looped = "abcdefghij" * 5
    val planted = Seq(-1L -> "tiny", -2L -> looped, -3L -> (looped.take(40) + "zzzzz"))
      .toDF("doc_id", "text")
    val corpus = Tables.documents(spark, Sf).select(col("doc_id").cast("long"), col("text"))
      .unionByName(planted)
      .select(col("doc_id").as("sid"), DedupOps.shingleTokens(col("text"), 8).as("ts"))
    val sets = corpus.as[(Long, Seq[Int])].collect().map { case (s, ts) => (s, ts.toSet) }
    assert(sets.exists { case (s, ts) => s == -1L && ts.isEmpty })
    val brute = (for {
      i <- sets.indices.iterator; j <- (i + 1) until sets.length
      (sa, ta) = sets(i); (sb, tb) = sets(j)
      inter = (ta & tb).size
      if inter > 0 && 2L * inter >= (ta.size + tb.size - inter)
      (a, b) = if (sa < sb) (sa, sb) else (sb, sa)
    } yield (a, b)).toSet
    assert(brute.contains((-3L, -2L)), "the repeated-window pair must be a true pair")
    val full = DedupOps.allPairsSimilarity(corpus, tE6 = 500000L)
    val pairs = full.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === brute, s"prefix filter diverged from brute force: " +
      s"missed=${(brute -- pairs).take(3)} extra=${(pairs -- brute).take(3)}")
    // the verify reads set sizes, not text lengths
    val (inter, szA, szB) = full.where(col("doc_a") === -3L && col("doc_b") === -2L)
      .select("inter", "sz_a", "sz_b").as[(Long, Long, Long)].head()
    val (t3, t2) = (sets.find(_._1 == -3L).get._2, sets.find(_._1 == -2L).get._2)
    assert((inter, szA, szB) === (((t3 & t2).size.toLong, t3.size.toLong, t2.size.toLong)))
  }

  test("LSH candidates recover planted near-duplicate pairs (recall on jaccard>=0.9)") {
    val sh = DedupOps.shingleRows(Tables.documents(spark, Sf), "doc_id", "text", 8)
      .localCheckpoint(true)
    val cands = DedupOps.lshCandidatesRows(sh, 16, 4)
    val withJ = DedupOps.jaccardRows(sh, cands)
    // the testdata plants near-dups (verified: pairs with 8-gram jaccard >= 0.9 exist);
    // banding with k=16,r=4 must surface them
    assert(withJ.where(col("jaccard") >= 0.9).count() > 0)
  }

  test("duplicateClustersCollapsed equals the doc-level form on a planted corpus") {
    // real corpus + verbatim copies: copies form signature-identical
    // cliques (the collapse path), corpus near-dups give inter-group edges
    val base = Tables.documents(spark, Sf)
      .select(col("doc_id").cast("long").as("sid"), col("text"))
    val planted = base.unionByName(
      base.where(col("sid") % 5 === 0).withColumn("sid", col("sid") + 10000L))
    val rows = DedupOps.shingleRows(planted, "sid", "text", 8, dedup = false)
      .localCheckpoint(true)
    val plain = DedupOps.duplicateClusters(
      DedupOps.lshCandidatesRows(rows, k = 16, r = 4))
    val fast = DedupOps.duplicateClustersCollapsed(rows, k = 16, r = 4)
    assert(fast.count() > 0)
    assert(fast.exceptAll(plain).isEmpty && plain.exceptAll(fast).isEmpty)
  }

  test("simhash: equal token multisets equal; hamming-near for near-identical") {
    val df = Seq((1L, Seq(100, 200, 300, 400)), (2L, Seq(400, 300, 200, 100)),
      (3L, Seq(100, 200, 300, 401))).toDF("id", "tokens")
    val h = DedupOps.simhash16(df, "id", col("tokens")).as[(Long, Long)].collect().toMap
    assert(h(1L) === h(2L))
    val hamming = java.lang.Long.bitCount(h(1L) ^ h(3L))
    assert(hamming <= 6, s"near-identical docs should be hamming-close, got $hamming")
  }

  test("signBits packs slot j's sign into bit j like hand packing, 0 and negatives included") {
    val rnd = new Random(5)
    def slotValue(): java.lang.Long = rnd.nextInt(6) match {
      case 0 => 0L
      case 1 => -1L
      case 2 => null
      case 3 => Long.MinValue
      case _ => rnd.nextLong()
    }
    def hand(vs: Seq[java.lang.Long]): Long =
      vs.zipWithIndex.map { case (v, j) => if (v != null && v >= 0) 1L << j else 0L }.sum
    for (n <- Seq(1, 8, 63)) {
      val data = (1 to 40).map(i => (i.toLong, Seq.fill(n)(slotValue())))
      val df = data.toDF("id", "a")
      val got = df.select(col("id"),
          Sketches.signBits((0 until n).map(j => col("a").getItem(j))).as("code"),
          // the SQL twin evaluates to the same code
          expr(Sketches.signBitsSql((0 until n).map(j => s"a[$j]"))).cast("long").as("twin"))
        .as[(Long, Long, Long)].collect()
      got.foreach { case (id, code, twin) =>
        val want = hand(data(id.toInt - 1)._2)
        assert(code === want, s"n=$n id=$id")
        assert(twin === want, s"n=$n id=$id (SQL twin)")
      }
    }
  }

  test("signBits refuses 64 slots: the code must fit one long") {
    val e1 = intercept[IllegalArgumentException](Sketches.signBits((0 until 64).map(j => col(s"s$j"))))
    assert(e1.getMessage.contains("64 sign bits"))
    val e2 = intercept[IllegalArgumentException](Sketches.signBitsSql((0 until 64).map(j => s"s$j")))
    assert(e2.getMessage.contains("64 sign bits"))
  }

  test("hash, permutation and draw twins evaluate to their Spark forms") {
    val rnd = new Random(3)
    val vs = (Seq(0L, 1L, Sketches.P - 1, Sketches.P, 3400000000L, 999999999999L) ++
      Seq.fill(30)(math.abs(rnd.nextLong()) % 1000000000000L)).toDF("v")
    val toks = (Seq(0, 1, Int.MaxValue) ++ Seq.fill(30)(rnd.nextInt(Int.MaxValue))).toDF("t")
    for (j <- 0 until 4) {
      assert(vs.where(Sketches.h(j, col("v")) =!= expr(Sketches.hSql(j, "v"))).isEmpty, s"h j=$j")
      assert(toks.where(Sketches.perm(j, col("t")) =!= expr(Sketches.permSql(j, "t"))).isEmpty,
        s"perm j=$j")
    }
    assert(vs.where(Sketches.draw(col("v")) =!= expr(Sketches.drawSql("v"))).isEmpty)
    // the draw is a hash into [0, 1000003)
    assert(vs.where(Sketches.draw(col("v")) < 0 || Sketches.draw(col("v")) >= 1000003L).isEmpty)
  }

  test("candidateCut equals a brute-force reference: both directions, threshold ties, one-row query") {
    val rnd = new Random(11)
    // keys from a 9-value range so most thresholds land on a tied key;
    // query 6 holds one row
    val rows = ((0 until 6).flatMap(q => Seq.fill(1 + rnd.nextInt(40))((q.toLong, rnd.nextInt(9) - 4L)))
      :+ ((6L, 3L))).zipWithIndex.map { case ((q, k), i) => (q, k, i.toLong) }
    val df = rows.toDF("q_id", "key", "id")
    def ref(den: Int, descending: Boolean): Set[(Long, Long)] =
      rows.groupBy(_._1).toSeq.flatMap { case (q, rs) =>
        val need = (rs.size + den - 1) / den
        val order = rs.map(_._2).sorted
        val thr = (if (descending) order.reverse else order)(need - 1)
        rs.filter(r => if (descending) r._2 >= thr else r._2 <= thr).map(r => (q, r._3))
      }.toSet
    for (den <- Seq(1, 2, 5); descending <- Seq(true, false)) {
      val cut = Ann.candidateCut(df, "key", den, descending)
      assert(cut.columns.toSeq.sorted === df.columns.toSeq.sorted)
      val got = cut.select("q_id", "id").as[(Long, Long)].collect()
      assert(got.length === got.toSet.size)
      assert(got.toSet === ref(den, descending), s"den=$den descending=$descending")
    }
    // the data does tie on thresholds: some cut keeps more than ceil(n/den) rows
    val needs = rows.groupBy(_._1).values.toSeq.map(_.size)
    assert(Seq(2, 5).exists(den => ref(den, descending = true).size > needs.map(n => (n + den - 1) / den).sum))
  }

  test("ANN brute force: rank-1 neighbor is the true argmax cosine") {
    val top = Ann.bruteForceTopK(Tables.embeddings(spark, Sf), col("vec_id") < 3, 5)
    val r1 = top.where(col("rank") === 1).select("q_id", "cos").as[(Long, Double)].collect().toMap
    val all = Ann.bruteForceTopK(Tables.embeddings(spark, Sf), col("vec_id") < 3, 10000)
      .groupBy("q_id").agg(max("cos").as("m")).as[(Long, Double)].collect().toMap
    r1.foreach { case (q, c) => assert(c === all(q)) }
  }

  test("ANN sketch-rerank and multi-table LSH agree with brute force on shared hits") {
    val emb = Tables.embeddings(spark, Sf)
    val exact = Ann.bruteForceTopK(emb, col("vec_id") < 3, 5)
      .select(col("q_id"), col("c_id"), col("cos")).as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // every (q, c) the approximate paths return must carry the SAME exact
    // cosine the brute-force scorer computes (the rerank stage is exact)
    Seq(Ann.sketchRerankTopK(emb, col("vec_id") < 3, 5),
      Ann.multiTableLshTopK(emb, col("vec_id") < 3, 5)).foreach { ap =>
      ap.select(col("q_id"), col("c_id"), col("cos")).as[(Long, Long, Double)].collect()
        .foreach { case (q, c, cs) =>
          exact.get((q, c)).foreach(e => assert(e === cs, s"cos mismatch for ($q,$c)"))
        }
    }
    // i09's shared-frame pair equals the two separate paths, row for row
    val (exactArm, sketchArm) = Ann.exactAndSketchTopK(emb, col("vec_id") < 3, 5)
    Seq(exactArm -> Ann.bruteForceTopK(emb, col("vec_id") < 3, 5),
      sketchArm -> Ann.sketchRerankTopK(emb, col("vec_id") < 3, 5)).foreach { case (got, want) =>
      assert(got.count() === 15)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
  }

  test("MMR: second pick trades relevance for diversity, pure top-k would not") {
    // q = e1; c1 best match; c2 nearly collinear with c1 (higher rel than
    // c3); c3 less relevant but pointing away from c1 — MMR must pick c3
    // second, pure relevance would pick c2
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.95f, 0.312f, 0f, 0f)),
      (2L, Array(0.949f, 0.315f, 0f, 0f)),
      (3L, Array(0.88f, -0.47f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Ann.mmrSelect(emb, col("vec_id") === 0, k = 3)
      .orderBy("pick").select("c_id", "pick", "mmr")
      .as[(Long, Int, Long)].collect()
    assert(got.map(_._1).toSeq === Seq(1L, 3L, 2L))
    // pure relevance ranks c2 ahead of c3
    val rel = Ann.bruteForceTopK(emb, col("vec_id") === 0, k = 3)
      .orderBy("rank").select("c_id").as[Long].collect()
    assert(rel.toSeq === Seq(1L, 2L, 3L))
    // mmr scores strictly decrease along picks (greedy argmax over a
    // shrinking candidate set with a growing redundancy term)
    assert(got.map(_._3).toSeq === got.map(_._3).sorted.reverse.toSeq)
  }

  test("localModel collects at most maxRows rows and names the bound when a model is larger") {
    val four = spark.range(4).toDF("id")
    assert(Ann.localModel(four, 4).as[Long].collect().sorted.toSeq === Seq(0L, 1L, 2L, 3L))
    val e = intercept[IllegalArgumentException](Ann.localModel(four, 3))
    assert(e.getMessage.contains("maxRows = 3"), e.getMessage)
  }

  test("RRF: consensus across runs outranks a single run's top hit; exact ppm points") {
    val runA = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3)).toDF("q_id", "c_id", "rank")
    val runB = Seq((1L, 11L, 1), (1L, 12L, 2), (1L, 13L, 3)).toDF("q_id", "c_id", "rank")
    val got = Ann.rrfFuse(Seq(runA, runB), k = 4)
      .orderBy("rank").select("c_id", "rrf_e6")
      .as[(Long, Long)].collect().toSeq
    def p(r: Int): Long = 1000000L / (60 + r)
    // doc 11 (ranks 2+1) and doc 12 (ranks 3+2) both beat doc 10, run A's
    // rank-1 hit that run B misses entirely
    assert(got === Seq(11L -> (p(2) + p(1)), 12L -> (p(3) + p(2)),
      10L -> p(1), 13L -> p(3)))
  }

  test("kmeansQuality: counts conserve, cohesion beats separation on every cluster") {
    val e = Tables.embeddings(spark, Sf)
    val q = Ann.kmeansQuality(e).collect()
    assert(q.map(_.getLong(1)).sum === e.count())
    // the partition is doing SOMETHING: members are closer to their own
    // centroid than the centroids are to each other — in aggregate and
    // for a strict majority of clusters (NOT all: on this isotropic
    // corpus two seeded centroids can land nearly coincident, and the
    // report exists precisely to surface that — one such cluster is
    // observed at sf0.01, separation 0.51 vs cohesion 0.49)
    val coh = q.map(_.getLong(2)); val sep = q.map(_.getLong(3))
    assert(coh.sum > sep.sum, s"mean cohesion ${coh.sum} <= mean separation ${sep.sum}")
    val wins = q.count(r => r.getLong(2) > r.getLong(3))
    assert(wins * 2 > q.length, s"cohesion beat separation in only $wins/${q.length}")
  }

  test("ivfAssignment is a total partition: one cell per vector, counts conserve") {
    val e = Tables.embeddings(spark, Sf)
    val asn = Ann.ivfAssignment(e)
    val n = e.count()
    assert(asn.count() === n)
    assert(asn.select("vec_id").distinct().count() === n)
  }

  test("retrieve-then-rerank: output within the lexical candidate set, ordered by cosine") {
    val out = SparkEntry.queries("i10_retrieve_rerank")(spark, Sf)
      .orderBy("rank").collect()
    assert(out.length === 5)
    val candIds = graft.ops.Retrieval.bm25TopK(
        Tables.documents(spark, Sf), Seq("hash", "merge", "window", "spark"), k = 20)
      .select("doc_id").as[Long].collect().toSet
    out.foreach(r => assert(candIds.contains(r.getLong(0)),
      s"reranked doc ${r.getLong(0)} was not a lexical candidate"))
    // final order is the DENSE order: cos_e6 non-increasing with rank
    val cosByRank = out.map(_.getLong(2))
    assert(cosByRank.zip(cosByRank.tail).forall { case (a, b) => a >= b })
  }

  test("semi-hard negatives sit strictly inside the band below the positive") {
    // unit vectors with exact 6-dp cosines to the anchor (1,0):
    // v1 → 0.6, v2 → 0.8 (the positive), v3 → 0.0, v4 → −1.0
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.6f, 0.8f)), (2L, Array(0.8f, 0.6f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Ann.semiHardNegatives(e, col("vec_id") === 0, k = 4, marginE6 = 200000L)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getInt(5)))
    // positive is the argmax (v2 at 0.8); band = [0.6, 0.8) admits ONLY v1 —
    // v3 (0.0) and v4 (−1.0) fall below, the positive itself is excluded
    assert(r.toSeq === Seq((0L, 2L, 800000L, 1L, 600000L, 1)))
    // widening the margin past 0.8 pulls v3 in at rank 2, still never v2/v4
    val wide = Ann.semiHardNegatives(e, col("vec_id") === 0, k = 4, marginE6 = 900000L)
      .collect().map(x => (x.getLong(3), x.getLong(4), x.getInt(5))).toSeq
    assert(wide === Seq((1L, 600000L, 1), (3L, 0L, 2)))
  }

  test("text ops: quality in [0,100]-ish band, token counts positive, langid total") {
    val d = Tables.documents(spark, Sf)
    val q = d.select(TextOps.qualityScore(col("text")).as("q")).as[Long].collect()
    assert(q.forall(v => v >= 0 && v <= 100))
    val t = d.select(TextOps.wordCount(col("text")).as("w"),
      TextOps.regexTokenCount(col("text")).as("r")).as[(Long, Long)].collect()
    assert(t.forall { case (w, r) => w > 0 && r >= w })
    val langs = d.select(TextOps.langIdHeuristic(col("text")).as("l")).distinct()
      .as[String].collect().toSet
    assert(langs.subsetOf(Set("en", "es", "fr", "de", "zh")))
  }

  test("multimodal: feature batch shape + frame sampling formula") {
    val media = Multimodal.mediaFromDocs(Tables.documents(spark, Sf))
    val feats = Multimodal.extractFeatures(media)
    val f = feats.head()
    assert(f.feat.length === 8)
    assert(f.n_bytes > 0 && f.checksum >= 0)
    val frames = Multimodal.sampleFrames(media, 64, 3)
      .groupBy("media_id").agg(count(lit(1)).as("n")).as[(Long, Long)].collect().toMap
    val expect = media.select(col("media_id"), length(col("payload")).as("len"))
      .as[(Long, Int)].collect().toMap
      .map { case (id, len) => id -> ((math.max(math.ceil(len / 64.0).toInt, 1) - 1) / 3 + 1).toLong }
    assert(frames === expect)
  }

  test("media nearDupBuckets: identical payloads collide, near byte-stats too; singletons dropped") {
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", "abcdefgh".getBytes, 1, 1),
      Multimodal.MediaRow(2L, "image", "abcdefgh".getBytes, 1, 1), // exact dup of 1
      Multimodal.MediaRow(3L, "image", "abcdefgi".getBytes, 1, 1), // lane 7 +1 → same coarse bucket
      Multimodal.MediaRow(4L, "image", Array.fill(800)('z'.toByte), 1, 1) // far singleton
    ).toDS()
    val got = Multimodal.nearDupBuckets(rows)
      .select("dup_cnt", "keep_media_id").as[(Long, Long)].collect().toSet
    assert(got === Set((3L, 1L)))
  }

  test("embeddingNearDup is symmetric-free (id_a < id_b) and within window") {
    val nd = DedupOps.embeddingNearDup(Tables.embeddings(spark, Sf), 200, 0.35)
    assert(nd.where(col("id_a") >= col("id_b")).count() === 0)
    assert(nd.where(col("id_b") - col("id_a") > 200).count() === 0)
  }
}
