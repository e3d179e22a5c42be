package graft

import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LocalRelation, LogicalPlan, Project, Repartition, Window => LWindow, WindowGroupLimit}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.WindowHashes
import graft.ops.DedupOps
import graft.sources.Tables

/** Physical/logical plan shape assertions for the plans whose scale
  * behavior depends on exact join/sort structure — the guarantees an
  * `explain` eyeball check would verify, encoded as tests so a refactor
  * cannot silently regress them.
  */
class PlanAuditSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Every query execution that building and collecting a registered query
    * runs — its eager checkpoints and model collects included, which the
    * final plan only shows as already-materialized leaves.
    */
  private def executions(name: String): Seq[QueryExecution] = {
    val sc = spark.sparkContext
    val seen = scala.collection.mutable.ArrayBuffer[QueryExecution]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.ListenerCount.drain(sc)
    spark.listenerManager.register(l)
    try {
      SparkEntry.queries(name)(spark, Sf).collect()
      org.apache.spark.ListenerCount.drain(sc)
    } finally spark.listenerManager.unregister(l)
    seen.synchronized(seen.toList)
  }

  private def hofs(qes: Seq[QueryExecution]): Seq[String] = qes.flatMap { qe =>
    collectWithSubqueries(qe.executedPlan) { case p => p }
      .flatMap(_.expressions.flatMap(_.collect { case h: HigherOrderFunction => h.prettyName }))
  }

  test("d04 jaccardRows never joins on a token column (no per-pair |A|×|B| rows)") {
    // the verify intersects each candidate pair's token ARRAYS in place; a
    // join keyed on (or filtered by) token values would instead materialize
    // exploded per-pair token rows — |A|×|B| of them if the token equality
    // ever ended up a post-join filter. Every d04 join keys on band keys
    // (candidate generation) or doc ids (attaching each doc's token set).
    val keys = Set("band_idx", "band_key", "doc_a", "doc_b", "sid")
    val d04 = SparkEntry.queries("d04_lsh_jaccard")(spark, Sf)
    val joins = d04.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty)
    joins.foreach { j =>
      val refs = j.condition.toSeq.flatMap(_.references.map(_.name))
      assert(refs.nonEmpty, s"d04 has a cross join: $j")
      assert(refs.forall(keys), s"d04 joins on a non-key column: ${j.condition.get}")
    }
  }

  test("e02 top-purchasers compiles to TakeOrderedAndProject (no global sort)") {
    val q = SparkEntry.queries("e02_top_purchasers")(spark, Sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected parallel partial top-k, plan was:\n$plan")
  }

  test("a04 sketch-rerank has no single-task corpus sort per query") {
    // every Window partitioned on q_id alone must consume a BOUNDED input:
    // either the quantized-sketch histogram (an Aggregate — per-query size
    // capped by the 2e6+1 bucket range regardless of corpus size) or the
    // salted local-rank survivors (a Filter on the __lr <= k local rank —
    // ≤ salts·k rows per query). A q_id-only window directly over the raw
    // Q×N scored pairs would sort the whole corpus in one task per query.
    val q = SparkEntry.queries("a04_ann_sketch")(spark, Sf)
    val wins = q.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.size == 1).foreach { w =>
      // walk through Project/Filter wrappers to the window's real input
      def boundedInput(p: LogicalPlan, sawLocalRankCut: Boolean): Boolean = p match {
        case _: Aggregate => true
        // rank-limit pushdown (InferWindowGroupLimit): each task prunes its
        // groups to the top `limit` rows map-side before any shuffle/sort
        case _: WindowGroupLimit => true
        case f: Filter =>
          boundedInput(f.child, sawLocalRankCut || f.condition.toString.contains("__lr"))
        case pr: Project => boundedInput(pr.child, sawLocalRankCut)
        // a stacked window adds no rows: bounded iff what feeds the stack is
        case w2: LWindow => sawLocalRankCut || boundedInput(w2.child, sawLocalRankCut)
        case _ => sawLocalRankCut
      }
      assert(boundedInput(w.child, sawLocalRankCut = false),
        s"q_id-only window over unbounded input:\n${w.child.treeString}")
    }
  }

  /** Whether `p` scans the testdata table `table`. */
  private def reads(p: LogicalPlan, table: String): Boolean = p.collect {
    case l: LogicalRelation => l.relation
  }.exists {
    case h: HadoopFsRelation => h.location.rootPaths.exists(_.getName == s"$table.parquet")
    case _ => false
  }

  test("i09 builds one Q×N frame: exactly one join reads embeddings on both sides") {
    // the exact top-k and the sketch cut share one checkpointed pair frame,
    // and the cut's candidates take their cosine from it — a second Q×N
    // build, or a rerank re-joining the embeddings for both ids, would
    // add a join with the embeddings scan under both inputs
    def readsEmb(p: LogicalPlan): Boolean = reads(p, "embeddings")
    val qes = executions("i09_ann_recall")
    assert(qes.nonEmpty, "no query execution was observed")
    val both = qes.flatMap(_.optimizedPlan.collect {
      case j: Join if readsEmb(j.left) && readsEmb(j.right) => j
    })
    assert(both.size === 1, s"joins over embeddings on both sides:\n${both.mkString("\n")}")
  }

  test("i09 and i12 execute no higher-order function") {
    // ArrayAggregate/ZipWith/ArrayTransform are CodegenFallback: a HOF in
    // these plans means interpreted per-element lambdas in the hot loop
    assert(hofs(executions("i02_embed_normalize")).nonEmpty, "the probe must see i02's transform")
    for (name <- Seq("i09_ann_recall", "i12_cluster_quality")) {
      val found = hofs(executions(name))
      assert(found.isEmpty, s"$name executes higher-order functions: ${found.distinct}")
    }
  }

  test("d22 hashes each document once and keeps one row per document until the verify") {
    // the per-document token sets are derived once and checkpointed; their
    // exploded rows and the verify arrays both come from that checkpoint —
    // no collect_list regroup of the token rows — and the hashing fan-out
    // is AQE's rebalance, not a fixed-count round-robin of the documents
    val qes = executions("d22_allpairs")
    assert(qes.nonEmpty, "no query execution was observed")
    val hashings = qes.flatMap(qe => collectWithSubqueries(qe.executedPlan) { case p => p }
      .flatMap(_.expressions.flatMap(_.collect { case w: WindowHashes => w })))
    assert(hashings.size === 1, s"WindowHashes evaluated ${hashings.size} times")
    val regroups = qes.flatMap(_.optimizedPlan.collect {
      case a: Aggregate if a.aggregateExpressions.exists(_.exists(_.isInstanceOf[CollectList])) => a
    })
    assert(regroups.isEmpty, s"collect_list aggregates:\n${regroups.mkString("\n")}")
    val fixed = qes.flatMap(_.optimizedPlan.collect {
      case r: Repartition if r.shuffle && reads(r.child, "documents") => r
    })
    assert(fixed.isEmpty, s"fixed-count repartitions of documents:\n${fixed.mkString("\n")}")
  }

  test("i03 and i12 assign without a sketch × centroid join or a per-vector aggregate") {
    // the nearest-centroid kernel scores each sketch against the model
    // literal in place: no plan joins rows of the sketch frame (the `sk`
    // checkpoint) with a centroid model (a local relation), and none
    // aggregates by vec_id. Row level = not below an aggregate, so i12's
    // join of per-cluster rollups does not count
    def rowLevel(p: LogicalPlan): Seq[LogicalPlan] = p match {
      case _: Aggregate => Nil
      case q => q +: q.children.flatMap(rowLevel)
    }
    def sketchRows(p: LogicalPlan) = rowLevel(p).exists(_.output.exists(_.name == "sk"))
    def modelRows(p: LogicalPlan) = rowLevel(p).exists(_.isInstanceOf[LocalRelation])
    def violations(name: String): Seq[String] = executions(name).flatMap(_.optimizedPlan.collect {
      case j: Join if (sketchRows(j.left) && modelRows(j.right)) ||
          (modelRows(j.left) && sketchRows(j.right)) => s"sketch × model join: ${j.simpleString(3)}"
      case a: Aggregate if a.groupingExpressions.exists(_.references.exists(_.name == "vec_id")) =>
        s"aggregate by vec_id: ${a.simpleString(3)}"
    })
    // the probe sees the IVF cell argmax, which does both
    val ivf = violations("i11_ivf_balance")
    assert(ivf.exists(_.startsWith("sketch × model")) && ivf.exists(_.startsWith("aggregate")),
      "the probe must see i11's cross join and argmax")
    for (name <- Seq("i03_kmeans", "i12_cluster_quality")) {
      val found = violations(name)
      assert(found.isEmpty, s"$name:\n${found.mkString("\n")}")
    }
  }

  test("d07 embedding near-dup joins on (label, block), not label alone") {
    val nd = DedupOps.embeddingNearDup(Tables.embeddings(spark, Sf), window = 200, minCos = 0.35)
    val joins = nd.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.exists { j =>
      val c = j.condition.map(_.toString).getOrElse("")
      c.contains("label") && c.contains("blk")
    }, "near-dup join must carry the id-block in its equi-key")
  }

  test("d10 decontamination, t08 LM familiarity, s04 bloom broadcast their small side") {
    // s04's bounded side is the bloom POSITION SET (≤ m rows at any eval
    // size) — the corpus must probe it broadcast-side, never shuffle on
    // the shingle key
    for (name <- Seq("d10_decontaminate", "t08_lm_familiarity", "s04_bloom_decontam")) {
      val plan = SparkEntry.queries(name)(spark, Sf).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$name must broadcast its bounded side (eval set / LM table):\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$name fell back to a non-equi join")
    }
  }

  test("k12 temperature mix reduces the corpus before the scalar-attachment join") {
    val q = SparkEntry.queries("k12_temp_mix")(spark, Sf)
    val joins = q.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.size === 1, "expected exactly the normalizer attachment join")
    // the cross join must be |domains| × 1 — both inputs already aggregated,
    // so the corpus never reaches the nested-loop side
    joins.foreach { j =>
      def hasAgg(p: LogicalPlan): Boolean = p.collectFirst { case a: Aggregate => a }.nonEmpty
      assert(hasAgg(j.left) && hasAgg(j.right),
        s"scalar attachment over unaggregated input:\n${j.simpleString(3)}")
    }
  }

  test("k01 packing shuffles boundary fragments, not per-token rows") {
    val q = SparkEntry.queries("k01_pack")(spark, Sf)
    val plan = q.queryExecution.optimizedPlan.toString
    // the cut must slice token ARRAYS per covered sequence (O(docs +
    // fragments) exchange rows); a posexplode of the token column would
    // put one row per token through the shuffle — several× corpus size
    assert(!plan.toLowerCase.contains("posexplode"),
      s"per-token explode leaked back into the packing plan:\n$plan")
    assert(plan.contains("slice("), s"expected array-slice fragments:\n$plan")
  }

  test("d14 span merge windows are per-document and its count join is an equi-join") {
    val q = SparkEntry.queries("d14_dup_spans")(spark, Sf)
    val plan = q.queryExecution
    // every window partitions on the document id — its state is bounded by
    // one document's length, never the corpus
    val wins = plan.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(w.partitionSpec.exists(_.toString.contains("sid")),
        s"d14 window not partitioned by sid:\n${w.partitionSpec}")
    }
    // the shared-position probe is a hash equi-join on the window hash
    val phys = plan.executedPlan.toString
    assert(!phys.contains("CartesianProduct") &&
      !phys.contains("BroadcastNestedLoopJoin"), s"non-equi join in d14:\n$phys")
  }

  test("d16 canonicalization has no per-cluster window sort and no cartesian") {
    val q = SparkEntry.queries("d16_cluster_canon")(spark, Sf)
    val plan = q.queryExecution
    // representative choice is an aggregate (max struct), NOT a window — a
    // pathologically large component must never become one task's sort
    assert(plan.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "d16 should pick representatives via aggregate, not a window")
    val phys = plan.executedPlan.toString
    assert(!phys.contains("CartesianProduct") &&
      !phys.contains("BroadcastNestedLoopJoin"), s"non-equi join in d16:\n$phys")
  }

  test("d17 line dedup joins on the fixed-width md5 key, never the raw line (300-copy footer)") {
    import spark.implicits._
    // a planted boilerplate footer: ~1.9 KB of text appearing in 300 docs —
    // the hot-key-and-long-key combination that made the raw-line join the
    // one perf_weak construct of round 5
    val footer = "accept cookies and subscribe to our newsletter " * 40
    val framed = (1 to 300).map(i => (i.toLong, s"unique body $i\n$footer\nalso unique $i"))
      .toDF("did", "raw")
    val out = graft.ops.CurationOps.lineDedup(framed, maxDocFreq = 2)
    val rows = out.collect()
    assert(rows.length == 300 &&
      rows.forall(r => r.getAs[Long]("n_lines") == 3 &&
        r.getAs[Long]("kept") == 2 && r.getAs[Long]("dropped") == 1),
      "every doc keeps its 2 unique lines and drops the footer")
    // the doc-frequency join and distinct must key on lh (md5, fixed 32
    // chars) — keyed on the raw line, each of the footer's 300 occurrences
    // would carry its ~1.9 KB text into one shuffle partition
    val joins = out.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty)
    joins.foreach { j =>
      val c = j.condition.map(_.toString).getOrElse("")
      assert(c.contains("lh#"), s"join must key on the md5 hash, got: $c")
      assert(!c.contains("line#"), s"raw line text used as a join key: $c")
    }
    val aggs = out.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
    aggs.foreach { a =>
      assert(!a.groupingExpressions.exists(_.toString.contains("line#")),
        s"raw line text used as a grouping key:\n${a.groupingExpressions}")
    }
  }

  test("k10 token-budget selection has no window over corpus-sized input") {
    val q = SparkEntry.queries("k10_token_budget")(spark, Sf)
    val wins = q.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    // every window must sit above an Aggregate (the ≤101-row band table)
    wins.foreach { w =>
      def aggBelow(p: LogicalPlan): Boolean = p match {
        case _: Aggregate => true
        case f: Filter => aggBelow(f.child)
        case pr: Project => aggBelow(pr.child)
        case j: Join => j.children.exists(aggBelow)
        case _ => false
      }
      assert(aggBelow(w.child),
        s"k10 window runs over non-aggregated (corpus-sized) input:\n${w.child.treeString}")
    }
  }
}
