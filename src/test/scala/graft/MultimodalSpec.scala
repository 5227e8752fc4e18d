package graft

import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {

  /** Deterministic synthetic media table: payload bytes derived from
    * media_id, kinds cycling image / audio / video.
    */
  private def syntheticMedia(n: Int) = {
    import spark.implicits._
    spark.range(n.toLong).map { i =>
      val kind = if (i % 3 == 0) "image" else if (i % 3 == 1) "audio" else "video"
      val payload = Array.tabulate[Byte](64 + (i % 64).toInt)(j =>
        ((i * 31 + j * 7) % 256).toByte)
      Multimodal.MediaRow(i, kind, payload, 64, 48, 16000)
    }
  }

  test("extractFeatures decodes batches into fixed-dim features") {
    val media = syntheticMedia(100)
    val feats = Multimodal.extractFeatures(media, batchSize = 16).collect()
    assert(feats.length == 100)
    assert(feats.forall(_.features.length == Multimodal.FakeDecoder.FeatureDim))
    assert(feats.forall(f => f.features.forall(v => v >= 0f && v <= 1f)))
    // deterministic: same id -> same features on recompute
    val again = Multimodal.extractFeatures(media, batchSize = 7).collect()
      .map(f => f.media_id -> f.features.toSeq).toMap
    assert(feats.forall(f => again(f.media_id) == f.features.toSeq))
  }

  test("sampleFrames emits evenly-spaced deterministic frame slices") {
    val media = syntheticMedia(30)
    val frames = Multimodal.sampleFrames(media, 4).collect()
    // only video rows produce frames
    assert(frames.map(_.media_id).distinct.forall(_ % 3 == 2))
    val byMedia = frames.groupBy(_.media_id)
    byMedia.values.foreach { fs =>
      assert(fs.length == 4)
      // offsets strictly increasing, frames non-empty
      val offs = fs.sortBy(_.frame_index).map(_.offset_bytes)
      assert(offs.zip(offs.tail).forall(p => p._1 < p._2))
      assert(fs.forall(_.frame.nonEmpty))
    }
    // deterministic across recomputes
    val again = Multimodal.sampleFrames(media, 4).collect()
      .map(f => (f.media_id, f.frame_index) -> f.frame.toSeq).toMap
    assert(frames.forall(f => again((f.media_id, f.frame_index)) == f.frame.toSeq))
  }

  test("partitionByKind co-locates modalities") {
    val media = syntheticMedia(30).toDF()
    val parted = Multimodal.partitionByKind(media, 3)
    assert(parted.rdd.getNumPartitions == 3)
    import org.apache.spark.sql.functions._
    // every kind lands in exactly one partition
    val kindsPerPart = parted
      .withColumn("pid", spark_partition_id())
      .groupBy("kind").agg(countDistinct("pid").as("nparts"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kindsPerPart.values.forall(_ == 1L))
  }

  test("batchedByKind never mixes kinds and respects the batch size") {
    def row(i: Long, kind: String) = Multimodal.MediaRow(
      i, kind, Array[Byte](1), 1, 1, 1)
    // mixed run lengths around the batch size of 3
    val rows = (0L until 7L).map(row(_, "image")) ++
      Seq(row(7L, "audio")) ++
      (8L until 12L).map(row(_, "video"))
    val batches = Multimodal.batchedByKind(rows.iterator, 3).toSeq
    // each batch is single-kind and <= batchSize
    assert(batches.forall(b => b.map(_.kind).distinct.size == 1))
    assert(batches.forall(b => b.nonEmpty && b.size <= 3))
    // 7 images -> 3+3+1, 1 audio -> 1, 4 videos -> 3+1
    assert(batches.map(b => (b.head.kind, b.size)) == Seq(
      ("image", 3), ("image", 3), ("image", 1),
      ("audio", 1), ("video", 3), ("video", 1)))
    // nothing lost or reordered
    assert(batches.flatten.map(_.media_id) == (0L until 12L))
  }

  test("near-dup media: decode-path features feed the blocked-cosine " +
    "dedup; blobs never cross the shuffle") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorFns
    import graft.operators.{Dedup, Multimodal => MM}

    // re-encoded copy: id 100 is id 0's payload with ONE byte nudged
    // (a re-compressed upload); id 101 is unrelated content
    val base = syntheticMedia(12).collect()
    val dup = base.head.payload.clone()
    dup(5) = (dup(5) + 1).toByte
    val media = (base.toSeq :+
      MM.MediaRow(100L, "image", dup, 64, 48, 16000) :+
      MM.MediaRow(101L, "image",
        Array.tabulate[Byte](96)(j => ((j * j + 13) % 256).toByte),
        64, 48, 16000)).toDS()

    // 1. the decode boundary: payloads become small feature vectors
    //    and the BLOB COLUMN IS GONE from everything downstream —
    //    only (id, kind, n_bytes, features) ever reaches a shuffle
    val feats = MM.extractFeatures(media, batchSize = 8)
      .toDF().select(col("media_id"), col("features"))
    assert(!feats.columns.contains("payload"))

    // 2. the same SRP-blocked cosine dedup the text corpus uses
    //    (dedup_embcos's operator) runs on the features unchanged
    val pairs = Dedup.embeddingNearDup(
      feats, "media_id", "features",
      VectorFns.signCode(col("features"), 4), minCos = 0.9999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 100L)),
      s"one-byte re-encode must pair with its original: $pairs")
    assert(!pairs.exists(p => p._1 == 101L || p._2 == 101L),
      s"unrelated content must not pair: $pairs")
  }
}
