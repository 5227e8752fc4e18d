package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.SessionShim

/** Cache lifecycle contract for graft operators.
  *
  * Several operators `cache()` an internal frame that appears on BOTH
  * sides of a self-join (Dedup's blocked self-join, which six Dedup
  * pair generators share, Stats correlationEdges/markerStats,
  * Pack.packShards, Embed's long form): aliased
  * self-join sides of the same uncached frame defeat ReuseExchange, so
  * without the cache the upstream pipeline is computed once PER SIDE.
  * Those cached frames are part of the (lazy) plan the operator
  * returns — they must stay cached until the caller's terminal action
  * has run, so the operator itself has no correct place to unpersist
  * them.
  *
  * The contract is therefore CALLER-OWNED:
  *
  *   - One-shot use (a query per session, the driver's Verify/Bench
  *     loops): call [[clearOperatorCaches]] (or
  *     `spark.catalog.clearCache()`) after the terminal action on each
  *     operator's result — exactly what `Verify.main` and `Bench.main`
  *     do between queries.
  *   - Long-lived sessions invoking operators repeatedly: same call,
  *     per batch. Blocks do NOT accumulate across batches under this
  *     contract; `CacheLifecycleSpec` pins that (runs each caching
  *     operator, acts, clears, asserts zero net cached plans).
  *
  * Unreferenced cached plans are NOT garbage-collected — Spark's
  * CacheManager holds them strongly until `clearCache`/`unpersist` —
  * which is why the lifecycle must be explicit rather than left to GC.
  *
  * CONCURRENCY: the contract assumes ONE active pipeline per
  * SparkContext. The CacheManager is SHARED STATE across every
  * session of a context (`spark.newSession()` clones the session
  * state, not the cache), so a lifecycle clear issued by one
  * pipeline unpersists a concurrently-running pipeline's internal
  * frames too. Violating the contract degrades PERFORMANCE, never
  * correctness: an unpersisted frame recomputes from lineage, so the
  * victim's self-join sides each pay the upstream pipeline again —
  * exactly the cost the cache existed to avoid — but the rows are
  * identical (`CacheLifecycleSpec`'s interleaved-pipelines case pins
  * this). Callers that genuinely need concurrent graft pipelines
  * must isolate them in separate SparkContexts (separate JVMs in
  * practice — one context per JVM), or run them serially and clear
  * between.
  *
  * One deliberate exception: ITERATIVE operators
  * (Dedup.connectedComponents, Stats.labelPropagation) materialize
  * per-round state via [[truncateLineage]] instead of `cache()` —
  * checkpointing is what truncates the otherwise exponentially-growing
  * round lineage, and those blocks live OUTSIDE the CacheManager:
  * `clearOperatorCaches` does not drop them; the ContextCleaner
  * reclaims them once the superseded round's DataFrame is unreachable
  * and a GC runs (the bench harnesses System.gc() between runs; local
  * sessions also set spark.cleaner.periodicGC.interval=1min). The
  * blocks are label-scale (node, component) rows — bookkeeping, not
  * data volume.
  */
object Caching {

  /** Drop every cached plan the current session holds (operator
    * internals included). Cheap when nothing is cached.
    */
  def clearOperatorCaches(spark: SparkSession): Unit =
    spark.catalog.clearCache()

  /** True when no plan is cached in this session — the post-condition
    * of [[clearOperatorCaches]], exposed so specs (and callers that
    * want to audit their own lifecycle) can assert it.
    */
  def noCachedPlans(spark: SparkSession): Boolean =
    SessionShim.cacheIsEmpty(spark)

  /** `df` with its lineage truncated under the storage rule (r14) of
    * the iterative operators and the in-place writers. With a
    * checkpoint dir (`sparkContext.setCheckpointDir`) it is a RELIABLE
    * `checkpoint()`: files that survive an executor loss, and that
    * cost a fixed small write per round where executor-memory blocks
    * churned under heap pressure (sf10 iteration walls jittered
    * 75-196 s). Without one it is a `localCheckpoint`: executor-memory
    * blocks, no files to manage. `eager = false` defers the local
    * checkpoint to the frame's first action, so a round that acts on
    * its frame right away pays one job, not two; the reliable
    * checkpoint is always eager, because a lazy one recomputes the
    * frame in a second job to write its files.
    */
  private[graft] def truncateLineage(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(eager)
}
