package graft

import org.apache.spark.sql.SparkSession

/** Session tuning for the two environments this library runs in.
  * The operators themselves never read these — they are pure plan
  * builders — but the knobs below are the spill/skew levers that
  * decide whether the same plans hold up at 100 TB.
  */
object Sessions {

  /** Cluster-shaped defaults, documented knob by knob:
    *
    *  - shufflePartitions: start at 2-3× total executor cores; AQE
    *    coalesces small partitions down, but cannot split a partition
    *    that never existed — undersizing is the un-fixable direction.
    *  - maxPartitionBytes 256m: scan-side partition sizing; with
    *    ~4-8× that in executor memory per task, wide aggregations
    *    stay in memory instead of spilling.
    *  - AQE on (default) + skewJoin: runtime re-plan splits skewed
    *    sort-merge partitions; the explicit `operators.Skew` salting
    *    covers the aggregation-side and replicable-dim cases AQE
    *    does not.
    *  - autoBroadcastJoinThreshold 64m: dims up to TPC-H `customer`
    *    scale broadcast instead of shuffling the fact side.
    *  - ANSI stays ON (Spark 4 default): overflow/0-division are
    *    errors, not silent wrap/NaN — the operators are written to
    *    that contract (decimal checksum sums, nullif cosine guards).
    */
  def clusterBuilder(
      shufflePartitions: Int,
      appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.files.maxPartitionBytes", "256m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      // let AQE rewrite sort-merge joins to shuffled-hash at runtime
      // when EVERY post-shuffle partition is measured under the
      // threshold (off by default; guide §3.1). This is the
      // scale-safe form of preferSortMergeJoin=false: the decision
      // uses measured bytes, never plan-time estimates, so a
      // mis-estimated build side can never OOM. Sized to the
      // broadcast threshold — one partition's hash map is bounded by
      // what a broadcast relation would have been allowed to hold.
      // Plans it converts (AQE final plans at sf0.1, local[4], with
      // vs without this line): the FULL OUTER sort-merge joins of
      // corpus_dsir (on bkt), integrated_driver (two, on gene) and
      // snapshot_diff (on doc_id) become ShuffledHashJoin; the other
      // 160 declared queries and graftbench's serve/ingest plans are
      // unchanged.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "64m")
      .config("spark.sql.session.timeZone", "UTC")
      // parquet TIMESTAMP(isAdjustedToUTC=false) reads as plain
      // TimestampType (stored value verbatim, UTC session above), not
      // TIMESTAMP_NTZ — pinned at build time so read schemas never
      // depend on which table loaded first (Tables.events also sets
      // it for sessions built elsewhere)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // iterative operators (connectedComponents, Pq's L2 Lloyd)
      // leave each superseded round's localCheckpoint blocks to the
      // ContextCleaner, which only reclaims after a driver GC — the
      // 30-min default would let ~25 rounds of label-scale blocks
      // accumulate on executors mid-algorithm; 5 min bounds that
      // backlog on long-lived cluster sessions (local sessions pin
      // 1 min below for the same reason)
      .config("spark.cleaner.periodicGC.interval", "5min")
      // let AQE coalesce partitions UNDER cached plans too (off by
      // default for output-partitioning stability; r21 measured): the
      // operator-internal caches here are panel-/bucket-bounded frames
      // (400-row variant panels, 40-row gene stats) whose upstream
      // exchanges plan wide — without this flag every downstream stage
      // over such a cache runs one task per un-coalesced partition,
      // and each task pays the full projection-initialization cost of
      // the expression trees above the cache (measured: var_driver's
      // 400-row annotate projection burned ~46 s of executor CPU
      // across 32 near-empty tasks per run; wall 2.9-9.8 s → 1.6-1.8 s
      // with the flag on; checksums identical).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")

  /** Local test/bench shape (what Bench/Verify use): one partition
    * per core — at local scale the shuffle constant matters more
    * than headroom. The bench/smoke mains re-size this at runtime
    * via [[shufflePartitionsFor]] once they know the corpus size
    * (partitions = cores IS the setting that paid the sf30 spill
    * tax; the builder can't know the input yet, the tools can).
    * periodicGC drops from the 30-min default to 1
    * min: single-JVM bench sessions run hundreds of tiny jobs whose
    * shuffle/broadcast bookkeeping is reclaimed only after their weak
    * refs are collected, and a multi-minute session otherwise never
    * GCs — the backlog measurably inflates later queries' times.
    */
  def localBuilder(cores: Int): SparkSession.Builder =
    clusterBuilder(shufflePartitions = cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** `autoBroadcastJoinThreshold` sized from the executor heap —
    * the shipped form of the r18 spill-probe doctrine. Under memory
    * pressure the FIRST casualty is the broadcast hash-relation
    * build (an explicit `Not enough memory to build and broadcast`,
    * measured at 2 g executors on the sf3 dedup set), long before
    * the sort/agg paths need to spill: a threshold-sized relation
    * hydrates to several× its serialized estimate on-heap, and more
    * than one can be live per query. The threshold is a plan-choice
    * knob, not a safety limit, so it must scale DOWN with the heap:
    *
    *   threshold = clamp(heap / 256, 1 MiB, 64 MiB)
    *
    * The divisor is measured, not derived (ClusterSmoke heavy-3 at
    * sf3): at 2 g heap, 64 m OOMs every query, and so does heap/128
    * = 16 m (r19 — a threshold-sized relation hydrates to well over
    * 8× its serialized estimate once BytesToBytesMap overhead and
    * concurrent builds stack); heap/256 = 8 m passes with checksums
    * identical to the 64 m comfortable-heap control's. The forced
    * broadcast→SMJ flips never change results, so erring small
    * costs only a sort-merge; 64 m stays the cap because beyond
    * customer-scale dims SMJ is the right plan anyway.
    */
  def broadcastThresholdFor(executorHeapBytes: Long): Long =
    math.min(64L << 20, math.max(1L << 20, executorHeapBytes / 256))

  /** `spark.sql.shuffle.partitions` sized with the corpus decade —
    * the shipped form of the r19 sf30 spill-probe doctrine ("per-task
    * state, not total data, sets the spill tax; size shuffle
    * partitions with the decade and the superlinearity disappears").
    * Both anchor points are MEASURED, not derived (sf30 probe,
    * local[32], 28 g heap, dedup scale-critical set):
    *
    *  - sf10 (2.0 GB corpus) at 32 partitions = 62.5 MB of corpus per
    *    reduce partition: ZERO spill, ratios linear — the good regime;
    *  - sf30 (6.3 GB) at the same 32 = 197 MB per partition: ~223 GB
    *    execution spill PER dedup query, minhash 4.55× per 3× data;
    *    re-partitioned so per-task input returns to the measured-good
    *    level (128 → 49 MB), the SAME query reads 295 s vs 457 s and
    *    the ratio is exactly linear (2.94×/3× data), checksum
    *    identical.
    *
    * So the rule caps per-reduce-partition INPUT bytes at 64 MiB —
    * the measured zero-spill level — and rounds UP to a whole number
    * of task waves (a multiple of `cores`; a fractional last wave is
    * pure straggler tail). Input bytes (compressed parquet on disk)
    * are the proxy, not shuffle bytes: the dedup shuffles carry
    * shingle expansions several× the input, but proportionally so,
    * and input size is the one number available BEFORE the run.
    * Floor at `cores` (one full wave); no upper cap — oversizing
    * costs a per-partition constant that AQE's coalescing reclaims,
    * while undersizing is the direction AQE cannot fix (it can split
    * only already-skewed join partitions, not a uniformly-overfull
    * hash-agg), and at lake scale `cores` grows with the cluster so
    * the quotient stays sane.
    *
    * APPLICATION POINT (r20, measured): set the result as
    * `spark.sql.adaptive.coalescePartitions.initialPartitionNum`,
    * NOT as raw `spark.sql.shuffle.partitions`. The r20 paired probe
    * (sf30, fresh JVM per arm, 28 g) found the raw form is
    * query-shape-dependent: the heavily-spilling dedup shapes are
    * indifferent-to-better at 128 (and r19's heavier-spill corpus
    * measured 1.55× better), but a NON-spilling mid-size aggregate
    * (corpus_dsir) pays 1.6× for reduce-side constants it never
    * needed. Planning shuffles wide and letting AQE coalesce the
    * small ones keeps both regimes: minhash 364 s ≈ the best arm's
    * 361, dsir's penalty halved, checksums identical across all
    * three configs. The canonical AQE pattern, now measured on this
    * library's own shapes.
    */
  def shufflePartitionsFor(inputBytes: Long, cores: Int): Int = {
    require(cores > 0, s"cores must be positive (got $cores)")
    val perPartition = 64L << 20
    val want = (math.max(0L, inputBytes) + perPartition - 1) / perPartition
    val waves = math.max(1L, (want + cores - 1) / cores)
    math.min(Int.MaxValue.toLong, waves * cores.toLong).toInt
  }

  /** Apply the decade rule to a RUNNING session (one shared
    * implementation for the Bench/Verify/smoke mains): sets AQE's
    * `initialPartitionNum` from the measured input bytes per
    * [[shufflePartitionsFor]]'s application note. A
    * SPARK_GRAFT_SHUFFLE env override instead pins RAW
    * `spark.sql.shuffle.partitions` and skips the auto rule — manual
    * probe mode, where the probe owns every partition knob. Returns
    * the applied value for telemetry.
    */
  def applyShufflePartitions(
      spark: SparkSession, inputPath: String, cores: Int): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE") match {
      case Some(v) =>
        // parse FIRST (ADVICE r20): setting the conf from the raw env
        // value and then parsing would leave the session half-
        // configured when a padded/non-numeric value throws
        val n = v.trim.toInt
        spark.conf.set("spark.sql.shuffle.partitions", n.toString)
        n
      case None =>
        // floor at the session's RAW shuffle.partitions: on a cluster
        // master, defaultParallelism reads 2 until executors register
        // (measured on the r20 2-worker smoke: applied=2 when called
        // before the warm-up job), and initialPartitionNum BELOW the
        // raw conf would under-plan every shuffle — the one direction
        // AQE cannot repair. initialPartitionNum only ever raises the
        // initial plan above the configured width, never lowers it.
        val raw = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val n = math.max(raw,
          shufflePartitionsFor(localDataBytes(inputPath),
            math.max(1, cores)))
        spark.conf.set(
          "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
          n.toString)
        n
    }

  /** Recursive on-disk byte size of a LOCAL data directory (or single
    * file) — the `inputBytes` feed for [[shufflePartitionsFor]] in
    * the local tools. 0 when the path doesn't exist (callers then get
    * the one-wave floor). Cluster deployments should feed the catalog
    * /FileStatus size of the actual input tables instead.
    */
  def localDataBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else if (f.isFile) f.length
      else 0L
    walk(new java.io.File(path))
  }

  /** The heap `broadcastThresholdFor` should be sized from, for a
    * running session: local masters run tasks in the driver JVM
    * (its -Xmx IS the executor heap); cluster masters declare it in
    * `spark.executor.memory` (Spark's default 1 g when unset).
    */
  def executorHeapBytes(spark: SparkSession): Long =
    if (spark.sparkContext.isLocal) Runtime.getRuntime.maxMemory
    else spark.conf.getOption("spark.executor.memory")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(1L << 30)
}
