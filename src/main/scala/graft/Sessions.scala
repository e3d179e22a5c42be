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
  def local(cpus: Int, appName: String): SparkSession = {
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
