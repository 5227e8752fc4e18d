package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads ride as
  * opaque BINARY columns with typed metadata; decode/feature-extract
  * runs batch-shaped per partition. The real codec call is STUBBED
  * (this container has no image/audio libraries) behind
  * `FakeDecoder` — a deterministic stand-in — but the Spark-side
  * contract is real: schema, partitioning, batch iteration, feature
  * output shape are what a production decoder would plug into.
  *
  * Scale notes: payloads never shuffle (decode is a narrow
  * mapPartitions); repartition-by-kind routes each modality to
  * executors with the right codec; features (small arrays) are what
  * flows downstream, not the blobs.
  */
object Multimodal {

  /** Typed row for the media table. */
  case class MediaRow(
      media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, sample_rate: Int)

  /** Decoded feature row: fixed-dim float feature vector + basic
    * decode metadata.
    */
  case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long,
      features: Array[Float])

  /** STUB decoder: where a production pipeline calls the image/audio
    * codec, we emit a deterministic 8-dim feature from byte content
    * (mean/extent per 8-way stripe). Replace the body with the real
    * codec call; the signature — bytes in, float features out — is
    * the production contract.
    */
  object FakeDecoder {
    val FeatureDim = 8

    def decode(payload: Array[Byte]): Array[Float] = {
      val f = new Array[Float](FeatureDim)
      if (payload.isEmpty) return f
      val stripe = math.max(1, payload.length / FeatureDim)
      var i = 0
      while (i < FeatureDim) {
        val from = i * stripe
        val until = math.min(payload.length, from + stripe)
        var s = 0L
        var j = from
        while (j < until) { s += (payload(j) & 0xff); j += 1 }
        f(i) = if (until > from) s.toFloat / (until - from) / 255f else 0f
        i += 1
      }
      f
    }
  }

  /** Batch-shaped decode: partitions iterate in fixed-size,
    * KIND-HOMOGENEOUS batches (the shape a vectorized codec or
    * model-server call needs — an image codec must never receive an
    * audio row). A batch breaks both at `batchSize` and at every kind
    * boundary; with partitionByKind-routed input the boundary splits
    * are rare. Narrow — no shuffle of payloads.
    */
  def extractFeatures(
      media: Dataset[MediaRow], batchSize: Int = 64): Dataset[MediaFeatures] = {
    require(batchSize > 0, "batchSize must be positive")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      batchedByKind(rows, batchSize).flatMap { batch =>
        // production: one vectorized codec/model call per batch here
        batch.map { r =>
          MediaFeatures(r.media_id, r.kind, r.payload.length.toLong,
            FakeDecoder.decode(r.payload))
        }
      }
    }
  }

  /** Split an iterator into batches of at most `batchSize` rows that
    * never mix kinds (consecutive same-kind runs, then size-chunked).
    */
  private[graft] def batchedByKind(
      rows: Iterator[MediaRow], batchSize: Int): Iterator[Seq[MediaRow]] =
    new Iterator[Seq[MediaRow]] {
      private val it = rows.buffered
      def hasNext: Boolean = it.hasNext
      def next(): Seq[MediaRow] = {
        val kind = it.head.kind
        val b = Seq.newBuilder[MediaRow]
        var n = 0
        while (n < batchSize && it.hasNext && it.head.kind == kind) {
          b += it.next(); n += 1
        }
        b.result()
      }
    }

  /** One sampled frame from a video payload. */
  case class FrameRow(
      media_id: Long, frame_index: Int, offset_bytes: Long,
      frame: Array[Byte])

  /** Frame sampling plumbing: emit `nFrames` evenly-spaced slices of
    * each video payload as frame rows (a real pipeline seeks
    * container keyframes here — the byte-slice stand-in keeps the
    * row shape and offsets deterministic). Narrow flatMap; payload
    * fan-out happens WITHIN a partition, frames never shuffle.
    */
  def sampleFrames(
      media: Dataset[MediaRow], nFrames: Int): Dataset[FrameRow] = {
    require(nFrames > 0, "nFrames must be positive")
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { r =>
      val len = r.payload.length
      if (len == 0) Iterator.empty
      else {
        val stride = math.max(1, len / nFrames)
        (0 until math.min(nFrames, len)).iterator.map { i =>
          val from = i * stride
          val until = math.min(len, from + stride)
          FrameRow(r.media_id, i, from.toLong,
            java.util.Arrays.copyOfRange(r.payload, from, until))
        }
      }
    }
  }

  /** Route each modality toward its own partitions before decode —
    * at cluster scale this pins codecs (image vs audio vs video) to
    * executor pools. Kinds can still share a partition (hash
    * collisions mod `partitions`), so rows are additionally SORTED by
    * kind within each partition: extractFeatures' kind-boundary
    * batching then yields homogeneous batches with at most one break
    * per kind per partition.
    */
  def partitionByKind(media: DataFrame, partitions: Int): DataFrame =
    media.repartition(partitions, col("kind"))
      .sortWithinPartitions(col("kind"))
}
