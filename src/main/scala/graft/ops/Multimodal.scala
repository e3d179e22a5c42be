package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed partition-at-a-time (the Scala analog of
  * mapInPandas batch processing: one iterator pass per partition, constant
  * memory, no per-row closure dispatch in the hot loop).
  *
  * The actual media codecs are NOT in this container, so `decode` is a
  * clearly-marked deterministic STUB; everything around it — schema,
  * partitioning, batch iteration shape, frame sampling — is real and tested.
  */
object Multimodal {

  final case class MediaRow(media_id: Long, media_type: String, payload: Array[Byte],
                            width: Int, height: Int)
  final case class MediaFeature(media_id: Long, media_type: String, n_bytes: Long,
                                checksum: Long, feat: Array[Float])

  /** Deterministic media table derived from documents: text bytes stand in
    * for the opaque payload; metadata derived from doc fields.
    */
  def mediaFromDocs(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id").cast("long").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")), (col("doc_id") % 3).cast("int") + 1).as("media_type"),
      encode(col("text"), "UTF-8").as("payload"),
      ((col("doc_id") % 64) * 16 + 16).cast("int").as("width"),
      ((col("doc_id") % 48) * 16 + 16).cast("int").as("height")
    ).as[MediaRow]
  }

  /** STUB decode: a real build would call an image/audio codec here
    * (libjpeg / ffmpeg via JNI or an exec'd worker). The deterministic fake
    * derives an 8-float "feature" from payload byte statistics so the
    * pipeline around it is fully testable.
    */
  private def decodeStub(payload: Array[Byte]): Array[Float] = {
    val feat = new Array[Float](8)
    var i = 0
    while (i < payload.length) {
      feat(i % 8) += (payload(i) & 0xff) / 255.0f
      i += 1
    }
    feat
  }

  /** Partition-batched feature extraction. */
  def extractFeatures(ds: Dataset[MediaRow]): Dataset[MediaFeature] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      it.map { m =>
        var sum = 0L
        var i = 0
        while (i < m.payload.length) { sum = (sum * 31 + (m.payload(i) & 0xff)) % 1000000007L; i += 1 }
        MediaFeature(m.media_id, m.media_type, m.payload.length.toLong, sum, decodeStub(m.payload))
      }
    }
  }

  /** Lane-sum quantum of [[nearDupBuckets]]' perceptual bucket. */
  private val Coarse = 256L

  /** Perceptual-bucket media near-duplicate detection — the image-dedup
    * step of a multimodal pipeline, with the codec stubbed like
    * [[extractFeatures]]: a real build would phash the DECODED pixels; here
    * the signature is 8 exact-int64 byte-lane sums over the payload
    * (lane i = Σ bytes at positions ≡ i mod 8 — order-independent, so the
    * DuckDB twin re-derives it with a linear unnest; a float fold would be
    * byte-order-dependent and engine-divergent). Bucket = each lane sum
    * div [[Coarse]]; payloads landing in the same 8-d bucket are
    * near-duplicates (identical payloads always collide). One typed
    * mapPartitions pass per payload + one hash aggregate on the bucket
    * key — no pairwise comparison anywhere, the same no-O(n²) shape as the
    * text LSH path. Output: one row per bucket with ≥2 members:
    * (bucket, dup_cnt, keep_media_id = min id).
    */
  def nearDupBuckets(ds: Dataset[MediaRow]): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    val lanes = ds.mapPartitions { it =>
      it.map { m =>
        val l = new Array[Long](8)
        var i = 0
        while (i < m.payload.length) { l(i % 8) += (m.payload(i) & 0xffL); i += 1 }
        (m.media_id, l(0), l(1), l(2), l(3), l(4), l(5), l(6), l(7))
      }
    }.toDF("media_id", "l0", "l1", "l2", "l3", "l4", "l5", "l6", "l7")
    val bucket = concat_ws("_", (0 until 8).map(i => expr(s"l$i div $Coarse")): _*)
    lanes.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("dup_cnt"), min(col("media_id")).as("keep_media_id"))
      .where(col("dup_cnt") > 1)
  }

  /** Frame sampling: slice the payload into fixed-size "frames" and keep
    * every `stride`-th — the Spark-side shape of video frame extraction
    * (posexplode over computed slices; the decode itself is the stub).
    */
  def sampleFrames(ds: Dataset[MediaRow], frameBytes: Int, stride: Int): DataFrame = {
    val withFrames = ds.toDF().withColumn("n_frames",
      greatest(ceil(length(col("payload")) / lit(frameBytes)).cast("int"), lit(1)))
    withFrames
      .select(col("media_id"), col("media_type"),
        explode(filter(sequence(lit(0), col("n_frames") - 1), i => i % stride === 0)).as("frame_idx"),
        col("payload"))
      .withColumn("frame", col("payload").substr(col("frame_idx") * frameBytes + 1, lit(frameBytes)))
      .drop("payload")
  }
}
