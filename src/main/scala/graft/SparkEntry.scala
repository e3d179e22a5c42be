package graft
import org.apache.spark.SparkContext
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 (plus the training-data ops)
  * is one [[SparkEntry.Q]] in [[SparkEntry.registry]]: its name, its Spark
  * plan and its DuckDB twin, declared together in one family object
  * (`QueriesPipeline`, `QueriesOps`, `QueriesProto`, `QueriesVendors`). The
  * twin is built from the exact same integer/string arithmetic so the
  * driver's hash compare matches value-for-value. `queries` and `oracleSql`
  * are the by-name views of the registry that Verify, Bench and Diag read.
  */
object SparkEntry {

  /** A driver query: (session, testdata directory) → its result. */
  type QFn = (SparkSession, String) => DataFrame

  /** One driver query: its name, its plan and its DuckDB oracle SQL.
    * `run` does not apply [[prep]]; [[queries]] does.
    */
  final case class Q(name: String, run: QFn, oracle: String)

  private def prep(spark: SparkSession): SparkSession = {
    // the driver-created bench/verify session gets the confs Sessions.local
    // builds with, so it plans what the dev sessions plan. The AQE
    // partition-coalescing floor stays at Spark's 1 MB default: a 64 KB
    // global floor was measured +30 s across the 212-query bench (every
    // modest shuffle pays extra task scheduling); the operators with
    // byte-SMALL, compute-DENSE stages pin their own parallelism locally.
    Sessions.RuntimeConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    // drop the PREVIOUS registry query's localCheckpoint blocks before this
    // one runs: eager checkpoints otherwise accumulate across a whole-registry
    // session until the driver happens to GC the RDD handles, saturating
    // the storage pool so late queries pay eviction + disk spill for
    // blocks nothing will ever read again (guide §5 — unpersist when
    // done). Only the RDDs that query's build persisted go: a caller's own
    // checkpoints on the session stay readable.
    val sc = spark.sparkContext
    lastBuilt.getAndSet(None).filter(_._1 eq sc).foreach { case (_, ids) =>
      ids.flatMap(sc.getPersistentRDDs.get).foreach(_.unpersist(blocking = false))
    }
    spark
  }

  /** Flagship: full parse→dedup→enrich→route pipeline aggregate on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("p14_pipeline")(spark, "/root/testdata/sf0.001")

  /** `qs`, after checking that no two entries share a name. */
  private[graft] def registryOf(qs: Seq[Q]): Seq[Q] = {
    val dupes = qs.groupBy(_.name).collect { case (n, xs) if xs.size > 1 => n }
    require(dupes.isEmpty, s"duplicate query names: ${dupes.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** Every driver query, once. */
  val registry: Seq[Q] = registryOf(QueriesPipeline.registry ++ QueriesOps.registry ++
    QueriesProto.registry ++ QueriesVendors.registry)

  /** The persistent RDDs the last registry query's build created, with their context. */
  private val lastBuilt =
    new java.util.concurrent.atomic.AtomicReference[Option[(SparkContext, Set[Int])]](None)

  private def persistentIds(s: SparkSession): Set[Int] = s.sparkContext.getPersistentRDDs.keySet.toSet

  /** Each query by name, run after [[prep]] on the caller's session. The
    * RDDs its build persists are the ones the next query's [[prep]] drops.
    */
  val queries: Map[String, QFn] = registry.map { q =>
    q.name -> ((s: SparkSession, dir: String) => {
      val before = persistentIds(prep(s))
      val df = q.run(s, dir)
      lastBuilt.set(Some(s.sparkContext -> (persistentIds(s) -- before)))
      df
    })
  }.toMap

  /** Each query's DuckDB oracle SQL by name. */
  val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracle).toMap
}
