package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.operators.SkewAdvisor

/** SkewAdvisor: observed-bytes skew-trigger sizing (r18 doctrine →
  * r19 shipped code). The spec pins the three verdicts the advisor
  * can reach — recommend (skewed + splittable), refuse with the
  * salting note (skewed but ONE mapper, AQE's un-splittable
  * precondition), and defaults-are-fine — plus the broadcast
  * heap-sizing rule's anchors — and the end-to-end loop: defaults
  * no-op → advisor recommends → AQE's skew split fires.
  */
class SkewAdvisorSpec extends SparkSpec {

  // ~46 MB of incompressible payload, 90% of rows on one key: the
  // hot partition's COMPRESSED map-output bytes clear the advisor's
  // 1 MiB floor (a compressible constant would not — that trap is
  // exactly what observing real bytes protects against)
  private def skewedFrame(parallelism: Int): DataFrame =
    spark.range(0L, 300000L, 1L, parallelism)
      .select(
        when(col("id") % 10 < 9, lit(7L)).otherwise(col("id")).as("k"),
        concat(md5(col("id").cast("string")),
          md5((col("id") * 31).cast("string")),
          md5((col("id") * 37).cast("string")),
          md5((col("id") * 41).cast("string"))).as("payload"))

  test("observe reads per-partition compressed bytes and mapper " +
    "counts off a materialized shuffle; recommend sizes the trigger") {
    val df = skewedFrame(parallelism = 8).repartition(4, col("k"))
    // materialize THIS frame's query execution with a SQL action (a
    // write/count builds its own; the RDD path — foreachPartition —
    // skips AQE finalization entirely: isFinalPlan stays false and
    // no ShuffleQueryStage ever appears)
    df.collect()
    assert(SkewAdvisor.recommend(spark.range(3).toDF())
      .note.contains("no materialized shuffle"))
    val profiles = SkewAdvisor.observe(df)
    assert(profiles.nonEmpty, "materialized shuffle stage not found")
    val p = profiles.maxBy(_.maxBytes)
    assert(p.numPartitions == 4)
    assert(p.numMappers == 8)
    assert(p.splittable)
    assert(p.maxBytes > (1L << 20),
      s"hot partition ${p.maxBytes} B under the advisor floor — " +
        "payload not incompressible enough")
    assert(p.skewRatio >= 5.0, s"ratio ${p.skewRatio}")
    val rec = SkewAdvisor.recommend(df)
    assert(rec.skewed.contains(p))
    assert(rec.thresholdBytes.contains(math.max(1L << 20, p.maxBytes / 2)))
    // the recommended trigger must CLASSIFY the observed partition:
    // AQE fires when size > max(threshold, factor * median)
    assert(rec.thresholdBytes.get < p.maxBytes)
    assert(5.0 * p.medianBytes < p.maxBytes)
    assert(rec.advisoryBytes.get >= (1L << 20))
    assert(rec.advisoryBytes.get < p.maxBytes,
      "advisory >= hot size would split into one piece (no-op)")
  }

  test("end to end: defaults do not split the hot join partition; " +
    "the advised threshold makes AQE's skew split fire") {
    import org.apache.spark.sql.execution.joins.ShuffledJoin
    // a per-key dim too large to broadcast by scenario (the 100 TB
    // dim regime): both sides shuffle, so AQE may split the hot
    // partition — across map-index ranges, hence 8 mappers
    val dim = spark.range(0L, 300000L, 1L, 8)
      .select(col("id").as("k"), (col("id") % 7).as("segment"))
    val skewConfs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    // run the join to completion; true iff the final plan split it.
    // The aggregate reads the payload, so the fact shuffle carries it
    // (a bare count would prune it to the compressible key alone)
    def run(): (DataFrame, Boolean) = {
      val agg = skewedFrame(parallelism = 8).join(dim, "k")
        .groupBy(col("segment")).agg(sum(length(col("payload"))).as("len"))
      agg.collect()
      (agg, PlanWalk.expand(agg.queryExecution.executedPlan).exists {
        case j: ShuffledJoin => j.isSkewJoin
        case _ => false
      })
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the 256 MB default trigger never classifies a ~40 MB hot
      // partition: the silent no-op the advisor exists for
      val (observed, splitByDefault) = run()
      assert(!splitByDefault)
      val rec = SkewAdvisor.recommend(observed)
      assert(rec.thresholdBytes.isDefined, rec.note)
      spark.conf.set(skewConfs(0), rec.thresholdBytes.get.toString)
      spark.conf.set(skewConfs(1), rec.advisoryBytes.get.toString)
      assert(run()._2, s"advised ${rec.note} did not fire the skew split")
    } finally {
      (skewConfs :+ "spark.sql.autoBroadcastJoinThreshold")
        .foreach(spark.conf.unset)
    }
  }

  test("one mapper => unsplittable: the advisor refuses a threshold " +
    "and names the static mitigation") {
    // ONE map task must feed the shuffle — and a bare coalesce(1)
    // does NOT survive (CollapseRepartition folds it into the
    // repartition below, leaving 8 mappers); a single parquet file
    // under maxPartitionBytes is the honest one-mapper scan, which is
    // also how the regime arises in the wild (compacted/coalesced
    // files feeding a keyed shuffle)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_advisor_1map").toString
    skewedFrame(parallelism = 8).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    // parquet is SPLITTABLE: without this pin the scan still splits
    // the single file across defaultParallelism map tasks
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try {
      val df = spark.read.parquet(dir).repartition(4, col("k"))
      df.collect()
      val rec = SkewAdvisor.recommend(df)
      assert(rec.skewed.exists(!_.splittable))
      assert(rec.thresholdBytes.isEmpty && rec.advisoryBytes.isEmpty)
      assert(rec.note.contains("ONE mapper"))
      assert(rec.note.contains("saltedJoin"))
    } finally spark.conf.unset("spark.sql.files.minPartitionNum")
  }

  test("balanced shuffle => defaults are fine") {
    val df = spark.range(0L, 100000L, 1L, 8)
      .select(col("id").as("k"),
        concat(md5(col("id").cast("string")),
          md5((col("id") * 31).cast("string"))).as("payload"))
      .repartition(4, col("k"))
    df.collect()
    val rec = SkewAdvisor.recommend(df)
    assert(rec.thresholdBytes.isEmpty)
    assert(rec.note.contains("defaults are fine"))
  }

  test("recommended threshold is strictly below the hot size even " +
    "at the 1 MiB floor boundary (AQE fires on size > threshold)") {
    val m = 1L << 20
    // the boundary defect: a candidate at exactly the floor used to
    // get threshold == maxBytes — a conf AQE's strict > never fires
    assert(SkewAdvisor.thresholdFor(m) == m - 1)
    assert(SkewAdvisor.thresholdFor(m + 1) == m)
    // floor regime (maxBytes < 2 MiB): threshold pinned just under
    assert(SkewAdvisor.thresholdFor(2 * m - 1) == m)
    // half-of-hot regime above 2 MiB
    assert(SkewAdvisor.thresholdFor(2 * m) == m)
    assert(SkewAdvisor.thresholdFor(100 * m) == 50 * m)
    for (b <- Seq(m, m + 1, 3 * m / 2, 2 * m, 7 * m, 1000 * m))
      assert(SkewAdvisor.thresholdFor(b) < b, s"maxBytes=$b")
  }

  test("observe descends cached subtrees: a shuffle materialized " +
    "while filling an InMemoryRelation is still profiled") {
    val base = skewedFrame(parallelism = 8)
      .repartition(4, col("k")).cache()
    try {
      // the outer action fills the cache; the skewed repartition now
      // lives UNDER the InMemoryRelation — the r19 advisor stopped at
      // the cache boundary and missed it
      val outer = base.agg(sum(length(col("payload"))).as("s"))
      outer.collect()
      val profiles = SkewAdvisor.observe(outer)
      val inner = profiles.filter(p => p.numPartitions == 4)
      assert(inner.nonEmpty,
        s"cached subtree's 4-partition shuffle not profiled " +
          s"(saw ${profiles.map(p => (p.shuffleId, p.numPartitions))})")
      val p = inner.maxBy(_.maxBytes)
      assert(p.skewRatio >= 5.0 && p.maxBytes > (1L << 20),
        s"cached shuffle profile lost its skew shape: $p")
      assert(SkewAdvisor.recommend(outer).thresholdBytes.isDefined)
    } finally { base.unpersist(); () }
  }

  test("broadcast threshold heap rule: clamp(heap/256, 1m, 64m) " +
    "reproduces the measured anchors") {
    def gb(n: Long) = n << 30
    // 2 g: 64 m AND 16 m (heap/128) OOM the broadcast build; 8 m
    // passes checksum-identical to the comfortable control (r18+r19)
    assert(Sessions.broadcastThresholdFor(gb(2)) == (8L << 20))
    // ≥16 g reaches the plan-choice cap; tiny heaps hit the floor
    assert(Sessions.broadcastThresholdFor(gb(16)) == (64L << 20))
    assert(Sessions.broadcastThresholdFor(gb(28)) == (64L << 20))
    assert(Sessions.broadcastThresholdFor(gb(8)) == (32L << 20))
    assert(Sessions.broadcastThresholdFor(64L << 20) == (1L << 20))
  }

  test("shuffle partition decade rule reproduces the sf30 probe's " +
    "measured anchors and floors at one wave of cores") {
    // sf10 anchor (2.0 GB corpus, 32 cores): the zero-spill decade
    // stays at partitions = cores — the rule changes NOTHING through
    // sf10, so every committed bench/oracle reference is undisturbed
    assert(Sessions.shufflePartitionsFor(2000000000L, 32) == 32)
    // sf30 anchor (6.3 GB): per-task input returns to the measured
    // zero-spill level (~66 MB) instead of the 197 MB that paid the
    // 1.55x spill tax; whole task waves, so a multiple of cores
    assert(Sessions.shufflePartitionsFor(6300000000L, 32) == 96)
    // floor: empty/missing/small input = one full wave
    assert(Sessions.shufflePartitionsFor(0L, 32) == 32)
    assert(Sessions.shufflePartitionsFor(1L, 16) == 16)
    // always whole waves, monotone in bytes
    val sizes = Seq(1L << 20, 1L << 30, 5L << 30, 50L << 30, 1L << 40)
    val parts = sizes.map(Sessions.shufflePartitionsFor(_, 32))
    assert(parts.forall(_ % 32 == 0))
    assert(parts == parts.sorted)
    // 100 TB at a 4000-core cluster: ~1.6 M wanted partitions round
    // to the next wave — the quotient stays sane because cores grow
    // with the cluster, and AQE coalescing reclaims any oversizing
    assert(Sessions.shufflePartitionsFor(100L << 40, 4000) % 4000 == 0)
  }

  test("applyShufflePartitions floors at the raw conf: a pre-register " +
    "defaultParallelism of 2 must never under-plan the shuffles") {
    // the r20 2-worker smoke measured applied=2 when the helper ran
    // before the first job (defaultParallelism reads 2 until
    // executors register) — initialPartitionNum below the raw conf
    // under-plans every shuffle, the one direction AQE cannot fix
    val raw = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val applied = Sessions.applyShufflePartitions(
      spark, "/root/testdata/sf0.01", cores = 2)
    try {
      assert(applied >= raw, s"applied=$applied below raw=$raw")
      assert(spark.conf
        .get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
        .toInt == applied)
      // and a big corpus still scales above the floor
      assert(Sessions.shufflePartitionsFor(6700000000L, 2) > 2)
    } finally spark.conf
      .unset("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
  }
}
