package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.graftshim.ShuffleStatsShim

/** Sizes AQE's skew-join trigger from OBSERVED shuffle bytes instead
  * of guesswork — the shipped form of [[Skew]]'s r18 doctrine.
  *
  * AQE splits a skewed sort-merge partition only when BOTH
  * preconditions hold, and both fail SILENTLY (r18 sf1 hot-key probe):
  *
  *  1. the partition's COMPRESSED map-output bytes exceed
  *     `spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes`
  *     (256 MB default) AND `skewedPartitionFactor ×` the median
  *     partition — and a hot KEY is a constant that compresses
  *     extremely well, so even an 18 M-row hot partition stayed
  *     under the default threshold in the probe;
  *  2. the split unit is a contiguous MAP-INDEX range, so a hot
  *     partition fed by ONE mapper cannot be split at all.
  *
  * Sizing the threshold therefore needs the exact numbers AQE itself
  * compares: per-reduce-partition compressed map-output bytes and the
  * mapper count, both of which a deployer otherwise scrapes from the
  * UI by hand. This utility reads them off a MATERIALIZED adaptive
  * plan (run the representative query once — e.g. the first batch of
  * a recurring job — then ask), and derives the conf values that make
  * the observed hot partition classify as skewed on the re-run.
  *
  * Driver cost: O(shuffle partitions) longs per shuffle stage —
  * statistics AQE has already collected; nothing new is computed on
  * executors and no data is collected.
  */
object SkewAdvisor {

  /** One materialized shuffle's reduce-partition size profile.
    * Bytes are COMPRESSED map-output sizes (MapStatus-encoded, the
    * same approximation AQE's classifier reads).
    */
  final case class ShuffleProfile(
      shuffleId: Int,
      numMappers: Int,
      numPartitions: Int,
      maxBytes: Long,
      medianBytes: Long,
      totalBytes: Long) {

    /** max / median — AQE classifies the max partition as skewed only
      * when this exceeds `skewedPartitionFactor` (5.0 default).
      */
    def skewRatio: Double =
      if (medianBytes > 0) maxBytes.toDouble / medianBytes
      else if (maxBytes > 0) Double.PositiveInfinity
      else 1.0

    /** Precondition 2: >1 mapper, or the hot partition is one
      * contiguous map range and no threshold makes AQE split it.
      */
    def splittable: Boolean = numMappers > 1
  }

  /** The advisor's output: the observed profiles plus, when a skewed
    * splittable shuffle exists, the two conf values to set before the
    * re-run. `thresholdBytes` halves the observed hot partition (so
    * run-to-run size variation still trips the trigger);
    * `advisoryBytes` pins the split target at the median partition
    * size (the default 64 MB advisory EXCEEDS a probe-scale hot
    * partition, which silently disables the split — the advisory must
    * sit below the hot size for a split to produce >1 piece).
    */
  final case class Recommendation(
      profiles: Seq[ShuffleProfile],
      skewed: Option[ShuffleProfile],
      thresholdBytes: Option[Long],
      advisoryBytes: Option[Long],
      note: String)

  private val MinBytes = 1L << 20 // 1 MiB floor on recommended confs

  /** The recommended `skewedPartitionThresholdInBytes` for an
    * observed hot partition of `maxBytes`: half the hot size (so
    * run-to-run variation still trips the trigger), floored at
    * [[MinBytes]], and ALWAYS strictly below `maxBytes` — AQE
    * classifies on size > threshold, so a threshold equal to the hot
    * size (possible at the floor boundary: a candidate at exactly
    * 1 MiB) would never fire, the precise silent no-op the advisor
    * exists to end.
    */
  private[graft] def thresholdFor(maxBytes: Long): Long =
    math.min(maxBytes - 1, math.max(MinBytes, maxBytes / 2))

  private def expand(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
    case q: QueryStageExec => p +: expand(q.plan)
    // descend CACHED builds too (r20): a pipeline that caches an
    // intermediate materializes that subtree's shuffles under the
    // InMemoryRelation — the profiler that stops at the cache
    // boundary silently misses what is often the pipeline's heaviest
    // shuffle (the cached side is cached precisely because it was
    // expensive). The cached plan executed once, at fill, so its
    // stage statistics are as real as the outer plan's.
    case c: InMemoryTableScanExec =>
      p +: expand(c.relation.cachedPlan)
    case _ => p +: p.children.flatMap(expand)
  }

  /** Per-shuffle reduce-partition profiles of a df that has already
    * RUN (AQE materializes stage statistics at execution; an
    * un-executed plan yields no profiles). Subquery plans included —
    * a skewed shuffle can hide in a scalar-subquery branch — and
    * CACHED subtrees are descended (r20): the shuffles a pipeline
    * materialized while filling an InMemoryRelation are profiled
    * through the cache boundary, not silently skipped.
    */
  def observe(df: DataFrame): Seq[ShuffleProfile] = {
    val root = df.queryExecution.executedPlan
    val all = expand(root) ++
      expand(root).flatMap(_.subqueries).flatMap(expand)
    all.flatMap(ShuffleStatsShim.shuffleStats).map {
      case (id, mappers, bytes) =>
        val sorted = bytes.sorted
        ShuffleProfile(
          shuffleId = id,
          numMappers = mappers,
          numPartitions = bytes.length,
          maxBytes = if (bytes.isEmpty) 0L else sorted.last,
          medianBytes = if (bytes.isEmpty) 0L else sorted(bytes.length / 2),
          totalBytes = bytes.sum)
    }.distinct
  }

  /** Observe, then derive the skew-join confs for the re-run.
    * `skewFactor` mirrors `skewedPartitionFactor` (keep them equal —
    * recommending a threshold AQE's own factor test then vetoes would
    * reproduce the silent no-op this exists to end).
    */
  def recommend(df: DataFrame, skewFactor: Double = 5.0): Recommendation = {
    val profiles = observe(df)
    val candidates = profiles.filter(p =>
      p.skewRatio >= skewFactor && p.maxBytes >= MinBytes)
    val (splittable, stuck) = candidates.partition(_.splittable)
    val pick = splittable.sortBy(-_.maxBytes).headOption
    pick match {
      case Some(p) =>
        Recommendation(
          profiles, pick,
          thresholdBytes = Some(thresholdFor(p.maxBytes)),
          advisoryBytes = Some(math.max(MinBytes, p.medianBytes)),
          note = s"shuffle ${p.shuffleId}: max partition ${p.maxBytes} B " +
            f"= ${p.skewRatio}%.1fx median over ${p.numMappers} mappers; " +
            "set skewedPartitionThresholdInBytes / " +
            "advisoryPartitionSizeInBytes to the recommended values")
      case None if stuck.nonEmpty =>
        val p = stuck.maxBy(_.maxBytes)
        Recommendation(
          profiles, Some(p), None, None,
          note = s"shuffle ${p.shuffleId} is skewed " +
            f"(${p.skewRatio}%.1fx median) but fed by ONE mapper — " +
            "AQE cannot split it; lower " +
            "spark.sql.files.maxPartitionBytes (more mappers) or use " +
            "Skew.saltedJoin")
      case None if profiles.isEmpty =>
        Recommendation(profiles, None, None, None,
          note = "no materialized shuffle stages — pass the frame a " +
            "SQL action ran on (collect / agg(...).collect; a " +
            "write/count builds its OWN query execution and the RDD " +
            "path skips AQE finalization), with AQE on")
      case None =>
        Recommendation(profiles, None, None, None,
          note = s"no shuffle with max >= ${skewFactor}x median " +
            "observed; defaults are fine")
    }
  }
}
