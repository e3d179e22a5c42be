package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the settings this engine assumes everywhere:
  * AQE on (skew-join + coalesce), modest shuffle parallelism for local mode,
  * UTC session time zone (the reference pins all timestamps to UTC nanos —
  * /root/reference/src/parser/zeek.rs:59-64).
  *
  * The session is always local: `master` is `local[cpus]` and the shuffle
  * partitions equal `cpus`. A cluster deployment would need a builder
  * that takes the master from spark-submit instead.
  */
object Sessions {

  /** Runtime SQL confs the plans assume: non-ANSI casts (a malformed field
    * becomes NULL, as the reference drops and counts bad records) and a 64 MB
    * broadcast threshold (small model/frequency tables broadcast). [[local]]
    * builds with them; `SparkEntry.prep` re-sets them on a session built
    * elsewhere (the Bench/Verify drivers').
    */
  private[graft] val RuntimeConfs: Seq[(String, String)] = Seq(
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> (64L << 20).toString)

  def local(cpus: Int, appName: String): SparkSession = {
    val builder = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    RuntimeConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
