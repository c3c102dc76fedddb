package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: treat image/audio/video payloads as
  * opaque `binary` columns with typed metadata, decoded/featurized by
  * a per-partition batch decoder (north-star multimodal operator).
  *
  * The container has no image/audio codecs, so `decodeStub` is a
  * clearly-marked deterministic fake — but everything around it is the
  * real Spark shape for 100 TB media pipelines: binary column + typed
  * metadata struct, `mapPartitions` so a real decoder amortizes model/
  * codec init per partition (the Scala analogue of `mapInPandas` batch
  * decoding). A real decoder's caller sizes each task's batch by
  * repartitioning the input first, so total/partitions bytes fit
  * executor memory next to the decoder.
  */
object BinaryOps {

  /** Typed decode output: what a real image decoder would yield. */
  case class MediaMeta(
      doc_id: Long,
      byte_len: Long,
      format: String,
      width: Long,
      height: Long,
      checksum: Long)

  /** STUB decoder — deterministic fake standing in for e.g. a JPEG
    * decode + resize. Derives "dimensions" from the payload bytes so
    * outputs are stable and testable; a real deployment swaps only
    * this function. */
  def decodeStub(docId: Long, payload: Array[Byte]): MediaMeta = {
    val len = payload.length.toLong
    // fake header sniff: first byte selects a "format"
    val format = if (len == 0) "empty"
      else if ((payload(0) & 0xFF) % 3 == 0) "jpeg"
      else if ((payload(0) & 0xFF) % 3 == 1) "png"
      else "webp"
    val checksum = payload.foldLeft(17L)((acc, b) => acc * 31 + (b & 0xFF))
    MediaMeta(docId, len, format, width = len % 64, height = len / 64,
      checksum = checksum)
  }

  /** Decode a `(doc_id, payload binary)` DataFrame into typed
    * metadata via per-partition batches. */
  def decodeAll(spark: SparkSession, media: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition init happens here in a real decoder
        rows.map { case (id, bytes) => decodeStub(id, bytes) }
      }
  }
}
