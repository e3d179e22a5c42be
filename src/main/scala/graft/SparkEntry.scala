package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (plus the training-data ops)
  * has a `queries` entry; those expressible in ANSI SQL have a DuckDB twin
  * in `oracleSql` built from the exact same integer/string arithmetic so the
  * driver's hash compare matches value-for-value.
  */
object SparkEntry {

  /** A driver query: (session, testdata directory) → its result. */
  type QFn = (SparkSession, String) => DataFrame

  private def prep(spark: SparkSession): SparkSession = {
    // non-ANSI: malformed field → NULL (the reference drops-and-counts bad
    // records, never aborts — /root/reference/src/collector/zeek.rs:118-139)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    // the AQE partition-coalescing floor stays at Spark's 1 MB default: a
    // 64 KB global floor was measured +30 s across the 212-query bench
    // (every modest shuffle pays extra task scheduling); the operators with
    // byte-SMALL, compute-DENSE stages pin their own parallelism locally.
    // Match the engine's own Sessions.local broadcast threshold (64 MB) so
    // the driver-created bench/verify session plans the same joins the dev
    // sessions plan (guide §3.1: broadcast the side that fits — estimates
    // at the 10 MB default flip small model/frequency tables to shuffles)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    // drop the PREVIOUS query's localCheckpoint blocks before this one
    // runs: eager checkpoints otherwise accumulate across a 212-query
    // session until the driver happens to GC the RDD handles, saturating
    // the storage pool so late queries pay eviction + disk spill for
    // blocks nothing will ever read again (guide §5 — unpersist when
    // done). prep runs before a query builds its frames, so every
    // persistent RDD seen here belongs to an already-completed query.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** Flagship: full parse→dedup→enrich→route pipeline aggregate on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("p14_pipeline")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, QFn] =
    (QueriesPipeline.queries ++ QueriesOps.queries ++ QueriesProto.queries ++
      QueriesVendors.queries)
      .map { case (name, fn) =>
        name -> ((s: SparkSession, dir: String) => fn(prep(s), dir))
      }.toMap

  def oracleSql: Map[String, String] =
    QueriesPipeline.oracles ++ QueriesOps.oracles ++ QueriesProto.oracles ++
      QueriesVendors.oracles
}
