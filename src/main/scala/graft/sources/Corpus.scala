package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus ingestion + persistence — the Spark-native re-expression of
  * the reference's file-based corpus flow
  * (reference: backend/app/core/corpus_builder.py — JSON paper dumps →
  * cleaned corpus; backend/app/core/vector_store.py — persisted
  * embedding collections).
  *
  * Scale rules baked in:
  *  - readers take an EXPLICIT schema — inferSchema is a full extra
  *    pass over 100 TB and type-drifts between files; a declared
  *    schema is one scan and stable.
  *  - `_corrupt_record` is retained under PERMISSIVE mode so bad rows
  *    are quarantineable instead of killing the job.
  *  - writes are either partitioned (partition pruning for
  *    time/source-sliced reads) or bucketed (shuffle-free equi-joins
  *    on the bucket key across tables bucketed the same way).
  */
object Corpus {

  /** The documents-table schema (matches TESTDATA's documents). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** JSON-lines corpus reader with a declared schema; malformed rows
    * land in `_corrupt_record` (add it to the schema to quarantine).
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .json(path)

  /** Parquet writer partitioned by low-cardinality columns: reads
    * filtered on those columns prune whole directories
    * (PartitionFilters in the scan — no data touched outside the
    * slice).
    */
  def writePartitioned(
      df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Latest-wins merge over a keyed, versioned update stream — the
    * Spark-native re-expression of the reference store's mutability
    * (reference: backend/app/core/vector_store.py:136 add_chunks
    * upserts, :482 delete_paper, :495 reset; indexer.py:57 index_pdf
    * ingests incrementally). Instead of in-place mutation, the corpus
    * is an append-only log of (key, version, payload [, deleted])
    * rows; this view resolves each key to its highest-version row and
    * drops tombstones — "dedup-on-read" compaction.
    *
    * Scale design: ONE hash aggregate of max(struct(version, payload))
    * per key — partial (map-side) combine applies, so the shuffle
    * carries at most one candidate row per key per map partition. No
    * window/sort over the corpus. Ties on (key, version) resolve by
    * payload field order (deterministic but arbitrary — writers should
    * make versions unique per key, e.g. ingest timestamp or batch id).
    *
    * `deletedCol`, when given, names a boolean column: a true value on
    * the WINNING version tombstones the key out of the view (the
    * delete_paper analog). Earlier deletes are superseded by later
    * re-inserts, exactly like any other upsert.
    */
  def mergeLatest(
      updates: DataFrame, keyCols: Seq[String], versionCol: String,
      deletedCol: Option[String] = None): DataFrame = {
    val payload =
      updates.columns.filterNot(c => keyCols.contains(c) || c == versionCol)
    val ranked = struct((versionCol +: payload).map(col): _*)
    val latest = updates
      .groupBy(keyCols.map(col): _*)
      .agg(max(ranked).as("_latest"))
      .select(keyCols.map(col) ++
        (versionCol +: payload).map(c => col(s"_latest.$c").as(c)): _*)
    // null-deleted (schema evolution, quarantined rows) means
    // NOT deleted — a bare !col would null out and silently drop the
    // key as if tombstoned
    deletedCol.map(dc =>
      latest.where(!coalesce(col(dc), lit(false)))).getOrElse(latest)
  }

  /** Partition-scoped overwrite: replaces ONLY the partitions present
    * in `df` (dynamic overwrite), leaving every other partition's
    * files untouched — the batch analog of the reference's
    * per-paper/per-batch re-index. Static overwrite mode (the
    * default) would truncate the whole table first; the writer-level
    * option scopes the setting to this write, not the session.
    */
  def overwritePartitions(
      df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Log compaction (Kafka-compaction / Delta-OPTIMIZE shape): fold
    * an append-only latest-wins log into a fresh base snapshot —
    * resolve via mergeLatest (tombstoned keys consumed), then write
    * evenly-sized parquet files targeting `targetRowsPerFile` rows
    * each, so a long-running base+delta pipeline (`corpus_latest`)
    * doesn't degrade into a small-files scan. Returns the compacted
    * row count (the audit scalar a maintenance job logs).
    *
    * Contract: compacted rows KEEP their versions, so re-merging the
    * new base with later deltas equals merging the original log with
    * them (pinned by spec) — PROVIDED no update older than the
    * compaction point arrives afterwards (a lower-versioned
    * straggler for a consumed tombstone would resurrect the key:
    * the standard log-compaction watermark contract).
    *
    * Scale: one mergeLatest pass (map-side-combined max-struct per
    * key), one count, one exchange to `ceil(n/target)` output files.
    * The count + repartition pair is the normal cost of a
    * maintenance job; it never runs on the query path.
    *
    * The merged frame is MATERIALIZED with an eager localCheckpoint
    * before the write, severing the plan from the source relation —
    * so the natural IN-PLACE call (compact `path` back into `path`)
    * works instead of tripping Spark's overwrite-while-reading
    * check. Trade-off (the connectedComponents localCheckpoint
    * rule): checkpoint blocks are non-reliable storage, so an
    * executor loss between the overwrite's delete and commit can
    * lose the snapshot. A 100 TB run compacts into a NEW snapshot
    * dir and swaps the table pointer instead — in-place is the
    * single-node/maintenance-window convenience.
    */
  def compactLog(
      log: DataFrame, keyCols: Seq[String], versionCol: String,
      deletedCol: Option[String], path: String,
      targetRowsPerFile: Long): Long = {
    require(targetRowsPerFile > 0,
      s"compactLog: targetRowsPerFile must be positive: $targetRowsPerFile")
    val merged = mergeLatest(log, keyCols, versionCol, deletedCol)
      .localCheckpoint()
    val n = merged.count()
    // clamp before .toInt: a tiny target over a lake-scale corpus
    // must degrade to max partitions, not wrap negative
    val files = math.min(Int.MaxValue.toLong,
      math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile)).toInt
    merged.repartition(files).write.mode(SaveMode.Overwrite).parquet(path)
    n
  }

  /** Keyed diff of two corpus snapshots — the audit a maintenance
    * job runs after a compaction, backfill, or re-crawl (reference
    * analog: the add_chunks/delete_paper churn around
    * backend/app/core/vector_store.py:136/:482, made inspectable):
    * per key, `added` (new only), `removed` (old only), `changed`
    * (payload differs under null-safe comparison) or `unchanged`.
    *
    * Scale shape: ONE full-outer equi-join on the key columns —
    * co-partitioned for free when both snapshots are bucketed by key
    * (writeBucketed), and the payload comparison is a codegen'd
    * null-safe struct equality in the join's projection; nothing
    * else shuffles. Output: key columns + status + one old_/new_
    * column per payload column (null on the absent side).
    */
  def snapshotDiff(
      oldDf: DataFrame, newDf: DataFrame,
      keyCols: Seq[String], payloadCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff: at least one key column")
    // the output's status column and the presence markers are claimed
    // names — a payload column shadowing them would corrupt the diff
    val reserved = Set("status", "_old", "_new") ++
      payloadCols.flatMap(c => Seq(s"new_$c", s"old_$c"))
    val clash = (keyCols ++ payloadCols).filter(reserved)
    require(clash.isEmpty,
      s"snapshotDiff: reserved column name(s) ${clash.mkString(", ")}")
    val o = oldDf.select((keyCols ++ payloadCols).map(col): _*)
      .withColumn("_old", lit(true))
    val n = newDf.select(keyCols.map(col) ++
      payloadCols.map(c => col(c).as(s"new_$c")): _*)
      .withColumn("_new", lit(true))
    val joined = o.join(n, keyCols, "full_outer")
    val samePayload = payloadCols
      .map(c => col(c) <=> col(s"new_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    joined
      .withColumn("status",
        when(col("_old").isNull, lit("added"))
          .when(col("_new").isNull, lit("removed"))
          .when(samePayload, lit("unchanged"))
          .otherwise(lit("changed")))
      .select(keyCols.map(col) ++ Seq(col("status")) ++
        payloadCols.flatMap(c =>
          Seq(col(c).as(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** Bucketed managed table: both sides of a repeated equi-join
    * bucketed by the join key skip the exchange entirely — the
    * pre-shuffle is paid ONCE at write time instead of per query.
    */
  def writeBucketed(
      df: DataFrame, table: String, bucketCol: String, numBuckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
}
