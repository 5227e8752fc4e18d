package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Caching
import graft.sources.Corpus

/** Exactly-once streaming upsert sink: merge-on-write into a
  * bucket-partitioned parquet store via foreachBatch + dynamic
  * partition overwrite — the production path from a latest-wins
  * update stream to the corpus snapshot batch jobs read.
  *
  * Why this shape survives failure semantics: Structured Streaming's
  * foreachBatch guarantee is at-least-once — after a crash between a
  * sink write and the checkpoint commit, the SAME micro-batch
  * replays. Exactly-once therefore has to come from the WRITE being
  * idempotent, and merge-on-write is exactly that: re-merging a
  * batch the store already absorbed changes nothing (the per-key
  * max-struct is idempotent), and the dynamic partition overwrite
  * rewrites the same buckets to the same content.
  *
  * Why tombstones PERSIST in the store (deletedCol = None at merge
  * time; readers filter): if the sink consumed tombstones the way
  * `compactLog` does, a lower-versioned straggler arriving in a
  * later batch would resurrect the deleted key — the log-compaction
  * watermark caveat. Keeping the tombstone ROW with its version
  * makes the store straggler-safe with no watermark contract:
  * max-version-wins resolves any arrival order. Tombstone rows are
  * reclaimed by a normal `compactLog` maintenance pass once the
  * straggler window genuinely closes.
  *
  * DURABILITY CAVEAT (r14 advice) — the exactly-once contract covers
  * foreachBatch REPLAYS (executor loss, query restart, redelivered
  * batches), not a driver crash INSIDE the dynamic-partition-
  * overwrite job commit: plain-parquet overwrite deletes a touched
  * partition's old files before the staged files land, so a crash in
  * that window leaves the partition partially written, and the
  * replayed batch then merges against the corrupted store — rows
  * that lived only in the lost files are gone. The window is the
  * file-move portion of ONE job commit (milliseconds per touched
  * bucket, not the batch duration), but it is real: plain parquet
  * has no atomic multi-file swap. Production deployments that need
  * crash-proof durability should point the store at a table format
  * with atomic commits (Delta/Iceberg — same merge logic, their
  * writers replace this sink's overwrite) or snapshot the store
  * path. The failure-injection spec covers the replay half of the
  * contract; this caveat is the documented limit of the other half.
  *
  * Scale shape per micro-batch: the batch's touched-bucket list is a
  * ≤`buckets`-row distinct (the legitimate bounded collect — it
  * becomes the partition-pruning predicate), the store side reads
  * ONLY those partitions (partition pruning on the bucket column),
  * the merge is one map-side-combined max-struct over
  * touched-partition rows + batch rows, and the overwrite replaces
  * only the touched partitions — untouched buckets' files are never
  * rewritten (spec-pinned byte-for-byte). Bucket count bounds the
  * blast radius of a batch: at 100 TB pick buckets so one bucket ≈
  * one executor's comfortable merge size.
  */
object StreamingSink {

  /** Merge ONE micro-batch of keyed, versioned updates into the
    * bucket-partitioned store at `path`. Designed to be called from
    * `foreachBatch`; safe to call again with the same batch (replay
    * idempotence is the exactly-once contract).
    */
  def upsertBatch(
      batch: DataFrame, path: String, keyCols: Seq[String],
      versionCol: String, buckets: Int): Unit = {
    require(buckets > 0, s"upsertBatch: buckets must be positive, got $buckets")
    require(!batch.columns.contains("bkt"),
      "upsertBatch: 'bkt' is the reserved bucket-partition column")
    if (batch.isEmpty) return // an empty replay must not touch the store
    val spark = batch.sparkSession
    val b = batch.withColumn("bkt",
      pmod(xxhash64(keyCols.map(col): _*), lit(buckets.toLong)))
    // bounded collect: ≤ buckets rows, becomes the pruning predicate
    val touched = b.select("bkt").distinct().collect().map(_.getLong(0))
    val hpath = new org.apache.hadoop.fs.Path(path)
    val fs = hpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a pre-created-but-empty dir is a fresh store, not a readable one
    val storeExists = fs.exists(hpath) && fs.listStatus(hpath).nonEmpty
    val all =
      if (storeExists)
        spark.read.parquet(path)
          .where(col("bkt").isin(touched.map(Long.box): _*))
          .unionByName(b)
      else b
    // deletedCol = None: tombstone rows persist with their versions
    // (straggler safety — see the object doc). The merged frame is
    // MATERIALIZED before the write — its plan reads `path`, which
    // the write overwrites, and Spark (rightly) refuses
    // overwrite-while-reading on a live plan. Caching.truncateLineage
    // is reliable when the session has a checkpoint dir (survives
    // executor loss between the overwrite's delete and commit).
    val merged = Caching.truncateLineage(Corpus.mergeLatest(all, keyCols, versionCol, None))
    Corpus.overwritePartitions(merged, path, Seq("bkt"))
  }

  /** The reader's view of the store: latest rows with tombstoned
    * keys dropped (the `deleted` filter the writer deliberately did
    * NOT apply at merge time).
    */
  def readCurrent(
      spark: org.apache.spark.sql.SparkSession, path: String,
      deletedCol: String): DataFrame =
    spark.read.parquet(path)
      .where(!coalesce(col(deletedCol), lit(false)))
      .drop("bkt")
}
