package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` columns with
  * typed metadata, decoded/feature-extracted partition-by-partition.
  *
  * The Spark-side shape is the real thing — schema, encoders, batch
  * iteration, partition sizing. The decode itself is the deterministic
  * [[FakeCodec]] STUB for every kind: the only media producer,
  * [[withPayload]], tags every row `image/fake`.
  *
  * Scale design: decode runs inside `mapPartitions` — no per-row
  * setup, no driver collect; media bytes stay columnar until the
  * decode boundary; feature vectors (small) are what flows on.
  * Partition sizing for 100 TB of media comes from
  * `spark.sql.files.maxPartitionBytes`, not row counts.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  final case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte])

  /** Extracted features: what a real image/audio decode would yield. */
  final case class MediaFeatures(doc_id: Long, kind: String,
      byte_len: Long, width: Int, height: Int, checksum: Long,
      feature: Array[Float])

  /** STUB codec — deterministic fake standing in for a real decoder. */
  object FakeCodec {
    /** "Decode": dims from byte length, checksum = Σ bytes·(i mod 31+1)
      * mod 2³¹−1, feature = 8 byte-histogram buckets normalized. */
    def decode(row: MediaRow): MediaFeatures = {
      val bs = row.payload
      var check = 0L
      val hist = new Array[Long](8)
      var i = 0
      while (i < bs.length) {
        val u = bs(i) & 0xff
        check = (check + u.toLong * (i % 31 + 1)) % TextOps.HashP
        hist(u % 8) += 1
        i += 1
      }
      val n = math.max(bs.length, 1).toFloat
      MediaFeatures(row.doc_id, row.kind, bs.length.toLong,
        width = (bs.length % 640) + 1, height = (bs.length % 480) + 1,
        checksum = check, feature = hist.map(_ / n))
    }
  }

  /** Attach a fake binary payload column to the documents table (the
    * test corpus has no real media; UTF-8 text bytes stand in). */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), lit("image/fake").as("kind"),
      encode(col("text"), "UTF-8").as("payload"))

  /** Decode + feature-extract inside the task, row by row. */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions(_.map(FakeCodec.decode))
  }

  /** Flat DataFrame view of the features (stable column order; the
    * float feature vector is kept as array<float>). */
  def features(docs: DataFrame): DataFrame =
    extractFeatures(withPayload(docs)).toDF()
      .select(col("doc_id"), col("kind"), col("byte_len"), col("width"),
        col("height"), col("checksum"), col("feature"))
}
