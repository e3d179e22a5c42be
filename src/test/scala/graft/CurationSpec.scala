package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Ann, CurationOps, DedupOps}
import graft.sources.Tables

/** Semantic behavior of the curation operators — properties the DuckDB
  * oracle (which shares the arithmetic) cannot falsify: repetition signals
  * actually rank repetitive text higher, decontamination actually catches a
  * planted copy, k-means is a total partition, sessions respect the gap.
  */
class CurationSpec extends SparkSpec {

  import spark.implicits._

  test("repetition signals separate repetitive from varied text") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val r = CurationOps.repetitionSignals(docs)
      .select("did", "top_bi_e6", "dup_g5_e6").collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1L)._1 === 1000000L) // every bigram is "spam spam"
    assert(r(1L)._2 === 1000000L) // every 5-gram repeats
    assert(r(2L)._1 < 200000L && r(2L)._2 === 0L)
  }

  test("chunkDocs: counts, boundaries, and overlap reconstruct the document") {
    val text = (1 to 37).map(i => ('a' + i % 26).toChar).mkString * 10 // 370 chars
    val docs = Seq((1L, text), (2L, "short"), (3L, "")).toDF("doc_id", "text")
    val out = CurationOps.chunkDocs(docs, size = 200, stride = 150)
      .orderBy("did", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    // doc 3 (empty) yields nothing; doc 2 one short chunk; doc 1 ceil(370/150)=3
    assert(out.count(_._1 == 3L) === 0)
    assert(out.filter(_._1 == 2L).map(x => (x._3, x._4)).toSeq === Seq((1L, 5L)))
    val c1 = out.filter(_._1 == 1L)
    assert(c1.map(_._3).toSeq === Seq(1L, 151L, 301L))
    assert(c1.map(_._4).toSeq === Seq(200L, 200L, 70L)) // tail runs short
    // md5 parity with direct substring chunks (overlap + reconstruction)
    val expect = Seq(text.substring(0, 200), text.substring(150, 350), text.substring(300))
    c1.map(_._5).toSeq.zip(expect).foreach { case (got, e) =>
      assert(got === java.security.MessageDigest.getInstance("MD5")
        .digest(e.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    }
  }

  test("bpeTrain == sequential BPE reference, incl. greedy left-to-right on 'aaaa'") {
    val docs = Seq((1L, "aaaa abab abab banana"),
      (2L, "aaaa aaaa banana bananas")).toDF("doc_id", "text")
    // sequential reference: Sennrich et al. algorithm 1 over (word, freq)
    var words: Map[Vector[String], Long] =
      Seq("aaaa" -> 3L, "abab" -> 2L, "banana" -> 2L, "bananas" -> 1L)
        .map { case (w, f) => w.map(_.toString).toVector -> f }.toMap
    val refMerges = (1 to 3).map { _ =>
      val pairs = words.toSeq.flatMap { case (s, f) =>
        s.zip(s.tail).map(p => p -> f)
      }.groupBy(_._1).map { case (p, xs) => (p._1, p._2, xs.map(_._2).sum) }
      val best = pairs.minBy { case (l, r, f) => (-f, l, r) }
      def applyMerge(s: Vector[String]): Vector[String] = {
        val out = Vector.newBuilder[String]; var i = 0
        while (i < s.length) {
          if (i + 1 < s.length && s(i) == best._1 && s(i + 1) == best._2) {
            out += s(i) + s(i + 1); i += 2
          } else { out += s(i); i += 1 }
        }
        out.result()
      }
      words = words.toSeq.map { case (s, f) => applyMerge(s) -> f }
        .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
      best
    }
    val got = CurationOps.bpeTrain(docs, rounds = 3, topM = 2)
      .where(col("rank") === 1).orderBy("round")
      .select("lhs", "rhs", "freq").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === refMerges, s"merge table diverged: got=$got ref=$refMerges")
    // encode side: final segmentation equals the reference's end state
    val segs = CurationOps.bpeSegments(docs, rounds = 3).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(segs.keySet === words.keySet.map(_.mkString))
    words.keys.foreach(s => assert(segs(s.mkString) === s.mkString(" ")))
  }

  test("epochSchedule: hand-computed cap/split on a skewed two-source corpus") {
    // tok: small=100 (w=10), big=10000 (w=100); B=3*10100=30300, sum_w=110
    // small alloc_raw = floor(30300*10/110)=2754 > 3*100  -> capped at 300
    // big   alloc_raw = floor(30300*100/110)=27545 <= 30000 -> uncapped
    val toks = Seq(("small", 100L), ("big", 10000L)).toDF("source", "n_tok")
    val out = CurationOps.epochSchedule(toks, budgetX = 3, capEpochs = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
      .toMap
    // (alloc_raw, alloc, epochs_e6, unique, repeated, capped)
    assert(out("small") === ((2754L, 300L, 3000000L, 100L, 200L, 1L)))
    assert(out("big") === ((27545L, 27545L, 2754500L, 10000L, 17545L, 0L)))
    // invariants: alloc = unique + repeated, unique <= tok, alloc <= cap*tok
    out.foreach { case (_, (raw, alloc, _, uniq, rep, capped)) =>
      assert(alloc === uniq + rep)
      assert(if (capped == 1L) alloc < raw else alloc === raw)
    }
  }

  test("contaminationRate: hand-computed rates, eval excluded, short docs kept at 0") {
    // eval doc 7 (7 % 89 == 7) has 4-char windows {abcd,bcde,cdef,defg};
    // doc 0 shares abcd out of its 2 windows -> 500000 ppm (dirty at 400k);
    // doc 1 shares nothing; doc 2 is too short for any window
    val docs = Seq(
      (7L, "abcdefg"), (0L, "abcdx"), (1L, "zzzzq"), (2L, "xy")
    ).toDF("doc_id", "text")
    val out = CurationOps.contaminationRate(docs, col("sid") % 89 === 7,
        n = 4, dirtyPpm = 400000L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet === Set(0L, 1L, 2L)) // eval doc never reports
    assert(out(0L) === ((2L, 1L, 500000L, 1L)))
    assert(out(1L) === ((2L, 0L, 0L, 0L)))
    assert(out(2L) === ((0L, 0L, 0L, 0L))) // no window: surfaced, not dropped
  }

  test("decontamination flags a planted eval copy and nothing unrelated") {
    // eval doc 7 (7 % 89 == 7); doc 100 is a verbatim copy, doc 101 disjoint
    val docs = Seq(
      (7L, "the quick brown fox jumps over the lazy dog again and again"),
      (100L, "the quick brown fox jumps over the lazy dog again and again"),
      (101L, "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp ooo nnn mmm lll")
    ).toDF("doc_id", "text")
    val sh = DedupOps.shingleRows(docs, "doc_id", "text", 8)
    val out = CurationOps.decontaminate(sh, col("sid") % 89 === 7, minShared = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(100L -> 1L))
  }

  test("domain-mix sampling keeps per-source rates near the target weights") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val kept = CurationOps.domainMixSample(docs)
      .groupBy("source").agg(count(lit(1)).as("k"))
    val tot = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val rates = kept.join(tot, "source")
      .select(col("source"), col("k").cast("double") / col("n"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rates.foreach { case (src, rate) =>
      val target = (src.drop(3).toInt % 4 + 1) * 0.25
      assert(math.abs(rate - target) < 0.2, s"$src rate $rate vs target $target")
    }
  }

  test("temperature mix flattens the natural distribution without inventing tokens") {
    val toks = Seq(
      ("big", 900L), ("big", 900L), ("big", 900L), ("big", 900L), // 3600 tokens
      ("mid", 400L), ("mid", 500L),                               //  900 tokens
      ("tiny", 100L)                                              //  100 tokens
    ).toDF("source", "n_tok")
    val m = CurationOps.temperatureMix(toks).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // w = isqrt(tok): 60 / 30 / 10, sum_w = 100, t_tot = 4600
    assert(m("big")._2 === 600000L && m("mid")._2 === 300000L && m("tiny")._2 === 100000L)
    // α=1/2 flattening: every smaller domain gets a HIGHER epoch factor,
    // and only the below-natural-share domains repeat (epochs > 1e6)
    assert(m("tiny")._4 > m("mid")._4 && m("mid")._4 > m("big")._4)
    assert(m("big")._4 < 1000000L && m("tiny")._4 > 1000000L)
    // the sampled budget is conservative: never exceeds one corpus-worth
    assert(m.values.map(_._3).sum <= 4600L)
    // exact values: samp = floor(t_tot·w/sum_w), epochs = floor(samp·1e6/tok)
    assert(m("tiny")._3 === 460L && m("tiny")._4 === 4600000L)
    assert(m("big")._3 === 2760L && m("big")._4 === 766666L)
  }

  test("substring novelty: duplicated docs score 1e6, unique docs 0, short docs surface") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // verbatim dup of 1
      (3L, "zxqwvutsrqponmlkjihgfedcba0123456789!@#$%^&*"), // unique windows
      (4L, "tiny") // shorter than one window
    ).toDF("doc_id", "text")
    val r = CurationOps.substringNovelty(docs, n = 16, minDocs = 2).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(3)))).toMap
    assert(r(1L)._2 === 1000000L && r(2L)._2 === 1000000L) // every window shared
    assert(r(3L)._1 > 0L && r(3L)._2 === 0L)               // windows, none shared
    assert(r(4L) === ((0L, 0L)))                           // surfaced, not dropped
  }

  test("duplicated spans merge overlapping shared windows into maximal intervals") {
    val blockA = "abcdefghijklmnopqrst" // 20 chars — exactly one window
    val blockB = "0123456789!@#$%^&*()" // 20 chars
    val shared30 = blockA + "uvwxyz,./;" // 30 chars — 11 windows, one span
    val docs = Seq(
      (1L, "XXXX" + shared30 + "YYYYYYYYYY"),        // block at pos 4
      (2L, shared30 + "ZZZZZZZZZZZZZZZZ"),           // block at pos 0
      (3L, "q" * 60),                                // self-repeats only: not cross-doc
      (4L, blockB + "w" * 30 + "KLMNOPQRSTUVWXYZABCD"), // two far-apart shared blocks
      (5L, "KLMNOPQRSTUVWXYZABCD" + "v" * 25 + blockB)
    ).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = CurationOps.duplicatedSpans(docs, n = 20, minDocs = 2)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    // the 30-char shared block merges its 11 window positions into ONE span
    // of (10 + 20) = 30 chars, wherever it sits in the doc
    assert(r(1L) === ((1L, 30L)))
    assert(r(2L) === ((1L, 30L)))
    // a doc repeating its own window shares nothing across docs
    assert(r(3L) === ((0L, 0L)))
    // two shared blocks separated by > n unique chars stay two 20-char spans
    assert(r(4L) === ((2L, 40L)))
    assert(r(5L) === ((2L, 40L)))
  }

  test("gopher rule battery computes exact structural signals and verdict") {
    val raw1 = "- aa 404\nthe cat and the dog in a big house of cards to win\ntail ## more..."
    val raw2 = "intro ok\nthe cat and the dog in a big house of cards to win\ntail more"
    val framed = Seq((1L, raw1), (2L, raw2)).toDF("did", "raw")
    val r = graft.ops.TextOps.gopherRules(framed).collect()
      .map(x => x.getLong(0) -> x).toMap
    val a = r(1L)
    // 19 words, 57 word chars, 16 alphabetic words, 2 '#', 1 bullet line,
    // 1 ellipsis line, stopwords {the,and,the,in,a,of,to} = 7
    assert(a.getAs[Long]("n_words") === 19L)
    assert(a.getAs[Long]("mwl_e6") === 3000000L)
    assert(a.getAs[Long]("alpha_e6") === 16000000L / 19L)
    assert(a.getAs[Long]("sym_e6") === 2000000L / 19L)
    assert(a.getAs[Long]("bullet_e6") === 333333L)
    assert(a.getAs[Long]("ellipsis_e6") === 333333L)
    assert(a.getAs[Long]("stop_hits") === 7L)
    assert(a.getAs[Int]("gopher_pass") === 0) // symbol ratio over threshold
    val b = r(2L)
    assert(b.getAs[Long]("n_words") === 17L)
    assert(b.getAs[Int]("gopher_pass") === 1) // clean doc clears every band
  }

  test("stratified sample equals the direct per-source rank and caps at k") {
    val docs = Tables.documents(spark, Sf)
    val two = CurationOps.stratifiedSample(docs, k = 7)
    val draw = col("doc_id") % lit(1000003L) * lit(2654435761L) % lit(1000003L)
    val direct = docs.select(col("source"), col("doc_id").as("did"), draw.as("draw"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("draw"), col("did"))))
      .where(col("rank") <= 7)
    assert(two.exceptAll(direct).isEmpty && direct.exceptAll(two).isEmpty,
      "two-level sample must equal the direct per-source rank")
    CurationOps.stratifiedSample(docs, k = 7)
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .foreach(r => assert(r.getLong(1) <= 7L))
  }

  test("k-means is a total partition that strictly beats its init by sketch-cosine") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val n = emb.count()
    val asn = Ann.kmeansSketch(emb)
    assert(asn.count() === n)
    assert(asn.select("vec_id").distinct().count() === n)
    val k = asn.select("cluster").distinct().count()
    assert(k > 1 && k <= 16)
  }

  test("train-order shuffle is a permutation with contiguous per-bucket ranks") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val ord = CurationOps.trainOrder(docs, nBuckets = 16)
    assert(ord.count() === docs.count())
    assert(ord.select("doc_id").distinct().count() === docs.count())
    // per bucket: ranks are exactly 1..size(bucket)
    val bad = ord.groupBy("bucket")
      .agg(count(lit(1)).as("n"), max(col("ord")).as("mx"), min(col("ord")).as("mn"))
      .where(col("mx") =!= col("n") || col("mn") =!= 1).count()
    assert(bad === 0L)
    // and the order is not the identity (it actually shuffles)
    val moved = ord.where(col("ord") =!= col("doc_id") + 1).count()
    assert(moved > 0L)
  }

  test("token-budget selection hits the target within band variance and prefers quality") {
    val scored = Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id").as("did"),
        graft.ops.TextOps.qualityScore(col("text")).as("quality"),
        graft.ops.TextOps.wordCount(col("text")).as("n_tok"))
    val total = scored.agg(sum("n_tok")).head.getLong(0)
    val sel = CurationOps.tokenBudgetSelect(scored, num = 6, den = 10)
    val got = sel.agg(sum("n_tok")).head.getLong(0)
    assert(math.abs(got.toDouble / total - 0.6) < 0.05, s"selected $got of $total")
    // quality dominance: every selected doc is at least as good as every
    // excluded doc outside the boundary band
    val minSel = sel.agg(min("quality")).head.getLong(0)
    val dropped = scored.join(sel.select("did"), Seq("did"), "left_anti")
    assert(dropped.where(col("quality") > minSel).count() === 0L)
    // a full budget selects everything
    assert(CurationOps.tokenBudgetSelect(scored, num = 1, den = 1).count() === scored.count())
  }

  test("lineDedup drops >maxDocFreq lines, keeps the boundary, md5s the residual") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val framed = Seq(
      (1L, "shared\nunique-a\npair"),
      (2L, "shared\nunique-b\npair"),
      (3L, "shared\nunique-c")
    ).toDF("did", "raw")
    // ldf: shared=3 (dropped), pair=2 (== maxDocFreq, KEPT), unique-*=1
    val got = graft.ops.CurationOps.lineDedup(framed, maxDocFreq = 2)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 3L, 2L, 1L, md5hex("unique-a\npair"))))
    assert(got(2L) === ((2L, 3L, 2L, 1L, md5hex("unique-b\npair"))))
    assert(got(3L) === ((3L, 2L, 1L, 1L, md5hex("unique-c"))))
  }

  test("lineDedup == sequential reference on random multi-line corpora") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // small line vocabulary → plenty of cross-doc collisions and
    // within-doc repeats; 1-6 lines per doc
    val lineGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docGen = Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, lineGen))
    Seq(11L, 42L).foreach { seed =>
      val corpus = Gen.listOfN(30, docGen)
        .pureApply(Gen.Parameters.default, Seed(seed)).zipWithIndex
        .map { case (ls, i) => ((i + 1).toLong, ls.mkString("\n")) }
      val got = graft.ops.CurationOps.lineDedup(corpus.toDF("did", "raw"), maxDocFreq = 3)
        .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
      val ldf = corpus.flatMap { case (id, raw) => raw.split("\n", -1).distinct.map(id -> _) }
        .groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val exp = corpus.map { case (id, raw) =>
        val lines = raw.split("\n", -1).toSeq
        val keptLines = lines.filter(l => ldf(l) <= 3)
        id -> ((id, lines.size.toLong, keptLines.size.toLong,
          (lines.size - keptLines.size).toLong, md5hex(keptLines.mkString("\n"))))
      }.toMap
      assert(got === exp, s"seed $seed")
    }
  }

  test("pplBuckets: per-source partition into ordered head/middle/tail thirds") {
    // plant one unscoreable (len < 3) doc to pin the exclusion semantics
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
      .unionByName(Seq((999999L, "ab", "en", "src0", 2L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = CurationOps.pplBuckets(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(4), r.getLong(5))).toMap
    // every (source, bucket) count sums to the scorable doc count
    val scorable = docs.where(length(col("text")) >= 3).count()
    assert(out.values.map(_._1).sum === scorable)
    // within each source the bucket score RANGES are ordered:
    // head.min >= middle.max's threshold side — head floor >= middle
    // ceiling is too strong under ties at the threshold, but the bucket
    // MINIMA must be ordered, and head's min >= middle's min >= tail's min
    out.keys.map(_._1).toSeq.distinct.foreach { src =>
      val h = out.get(src -> "head"); val m = out.get(src -> "middle")
      val t = out.get(src -> "tail")
      assert(h.nonEmpty, s"$src has no head")
      (h, m) match {
        case (Some(hv), Some(mv)) =>
          assert(hv._2 > mv._3, s"$src head floor must exceed middle ceiling")
        case _ =>
      }
      (m, t) match {
        case (Some(mv), Some(tv)) =>
          assert(mv._2 > tv._3, s"$src middle floor must exceed tail ceiling")
        case _ =>
      }
    }
    // docs too short to score are excluded, not silently bucketed
    assert(scorable < docs.count())
  }

  test("dsirSelect == sequential reference on random corpora (2 seeds)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // small word vocabulary → heavy cross-doc 8-gram sharing; distinct
    // 8-grams collide in dsirSelect's 1024 buckets (asserted below), so
    // the same modulus runs on both sides; doc lengths 0-12 words include
    // windowless docs
    val wordGen = Gen.oneOf("hash", "join", "scan", "merge", "sort", "row",
      "key", "agg", "spark", "window")
    val docGen = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, wordGen))
    val P = 1000000007L
    val S = 1000000000L
    val B = 1024
    def hashes(s: String): Seq[Long] = {
      val cps = s.codePoints.toArray
      (0 to cps.length - 8).map { i =>
        var h = 0L
        (i until i + 8).foreach(j => h = (h * 31 + cps(j)) % P)
        h
      }
    }
    def feats(s: String): Seq[Long] = hashes(s).map(_ % B)
    Seq(13L, 77L).foreach { seed =>
      val corpus = Gen.listOfN(40, docGen)
        .pureApply(Gen.Parameters.default, Seed(seed)).zipWithIndex
        .map { case (ws, i) => ((i + 1).toLong, ws.mkString(" ")) }
      val distinct = corpus.flatMap(d => hashes(d._2)).distinct
      assert(distinct.map(_ % B).distinct.size < distinct.size, s"seed $seed: no bucket collision")
      val got = CurationOps.dsirSelect(corpus.toDF("doc_id", "text"),
          col("doc_id") % 3 === 0, topK = 1000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val (tgt, raw) = corpus.partition(_._1 % 3 == 0)
      val tf = tgt.flatMap(d => feats(d._2))
      val rf = raw.flatMap(d => feats(d._2))
      val ct = tf.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val cr = rf.groupBy(identity).view.mapValues(_.size.toLong).toMap
      def wt(b: Long): Long =
        (ct.getOrElse(b, 0L) + 1) * S / (tf.size + B) -
          (cr.getOrElse(b, 0L) + 1) * S / (rf.size + B)
      val exp = raw.map { case (did, t) =>
        val f = feats(t)
        (did, f.size.toLong, f.map(wt).sum)
      }.sortBy { case (did, _, sc) => (-sc, did) }
      assert(got === exp, s"seed $seed")
    }
  }

  test("apply-vocab: ids match a sequentially-built top-32 vocab, OOV = 0") {
    import spark.implicits._
    // sequential reference vocab: top-32 tokens by (freq desc, tok asc)
    val toks = Tables.tokens(spark, Sf)
      .select(col("doc_id"), col("tokens")).as[(String, Seq[Int])].collect()
    val freq = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val vocab = freq.toSeq.sortBy { case (t, f) => (-f, t) }.take(32)
      .zipWithIndex.map { case ((t, _), i) => t -> (i + 1) }.toMap
    val exp = toks.map { case (did, ts) =>
      did -> ts.take(16).map(t => vocab.getOrElse(t, 0)).mkString(",")
    }.filter(_._2.nonEmpty).toMap
    val got = SparkEntry.queries("k14_apply_vocab")(spark, Sf)
      .as[(String, String)].collect().toMap
    assert(got === exp)
  }

  test("dsir selection equals a sequential reference and ranks target-like docs first") {
    val docs = Seq(
      (1L, "the model eats common crawl text and likes wikipedia prose very much"),
      (2L, "the model eats common crawl text just like the target corpus does"),
      (3L, "qqqq wwww eeee rrrr tttt yyyy uuuu iiii oooo pppp aaaa ssss dddd"),
      (4L, "short") // no 8-char window: n_feat = 0, score 0, still ranked
    ).toDF("doc_id", "text")
    val out = CurationOps.dsirSelect(docs, col("doc_id") === 1L, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    // sequential single-threaded reference: same fold, same int64 arithmetic
    val P = 1000000007L
    val S = 1000000000L
    def feats(s: String): Seq[Long] = {
      val cps = s.codePoints.toArray
      (0 to cps.length - 8).map { i =>
        var h = 0L
        (i until i + 8).foreach(j => h = (h * 31 + cps(j)) % P)
        h % 1024
      }
    }
    val texts = Map(1L -> "the model eats common crawl text and likes wikipedia prose very much",
      2L -> "the model eats common crawl text just like the target corpus does",
      3L -> "qqqq wwww eeee rrrr tttt yyyy uuuu iiii oooo pppp aaaa ssss dddd",
      4L -> "short")
    val tf = feats(texts(1L))
    val rawDocs = texts.filterNot(_._1 == 1L)
    val rf = rawDocs.values.flatMap(feats).toSeq
    val ct = tf.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cr = rf.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def wt(b: Long): Long =
      (ct.getOrElse(b, 0L) + 1) * S / (tf.size + 1024) -
        (cr.getOrElse(b, 0L) + 1) * S / (rf.size + 1024)
    val ref = rawDocs.toSeq.map { case (did, t) =>
      val f = feats(t)
      (did, f.size.toLong, f.map(wt).sum)
    }.sortBy { case (did, _, sc) => (-sc, did) }
    assert(out === ref)
    // the target-overlapping doc outscores the disjoint one (on a corpus
    // this small every featured doc's raw-model term dominates, so the
    // windowless doc's neutral 0 can top the list — rank among featured
    // docs is the semantic claim)
    val sc = out.map(r => r._1 -> r._3).toMap
    assert(sc(2L) > sc(3L))
    assert(out.find(_._1 == 4L).get._2 === 0L) // windowless doc present, 0 feats
  }

  test("sessionize splits exactly at the gap and conserves events") {
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val sess = CurationOps.sessionize(ev, gapSec = 1800)
    assert(sess.agg(sum("n_events")).head.getLong(0) === ev.count())
    // session spans never contain an internal gap > 30 min: re-derive the
    // max intra-session gap independently and assert the invariant
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "sess").orderBy("us")
    val withSess = ev.select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("gap_new", when(col("us") -
        lag(col("us"), 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("us"), col("event_id"))) > 1800000000L, 1L)
        .otherwise(0L))
    val intra = withSess
      .withColumn("sess", sum(col("gap_new")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .where(col("prev").isNotNull)
      .agg(max(col("us") - col("prev"))).head.getLong(0)
    assert(intra <= 1800000000L, s"intra-session gap $intra exceeds 30 min")
  }
}
