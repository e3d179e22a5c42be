package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the settings this engine assumes everywhere:
  * AQE on (skew-join + coalesce), modest shuffle parallelism for local mode,
  * UTC session time zone (the reference pins all timestamps to UTC nanos —
  * /root/reference/src/parser/zeek.rs:59-64).
  *
  * At cluster scale the same builder is used by spark-submit; only
  * `master`/`shuffle.partitions` change (driver passes them via conf).
  */
object Sessions {
  def local(cpus: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
