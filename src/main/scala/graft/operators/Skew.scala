package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for joins whose key distribution has hot
  * keys (the classic 100 TB failure mode: one reducer gets the hot
  * key's entire partition while the rest idle).
  *
  * Measured guidance (r13 + r18 correction, sf1 hot-key probe): AQE's
  * skew-join split is the FIRST tool for join-side hot keys — when
  * it fires, it beats explicit salting outright (no dim replication,
  * no wider shuffle; probe: unsplit 8.1 s → split 2.5-3.8 s vs
  * salted 3.0-3.7 s at 30-60% hot share). It has two preconditions,
  * both probe-measured as silent no-ops when unmet: the hot
  * partition's COMPRESSED map-output bytes must exceed
  * `skewedPartitionThresholdInBytes` (256 MB default — note it is
  * compared against compressed shuffle bytes, and a hot KEY is a
  * constant that compresses extremely well: even an 18M-row hot
  * partition stayed under the default in the probe, so size the
  * threshold from observed shuffle-partition bytes, not row
  * counts), and the split unit is a contiguous MAP-INDEX range, so a hot
  * partition fed by few map tasks cannot be split at all (one
  * mapper → no split ever). Explicit salting is the static
  * insurance when those preconditions fail — replicable-but-not-
  * broadcastable dims, coalesced scans with few mappers — winning
  * 1.2-1.7× there. For ALGEBRAIC aggregations (count/sum), salting
  * is a measured pure loss (0.64-0.74×): map-side partial
  * aggregation already reduces a hot key to one row per mapper.
  * The two-phase salt pattern pays off only where map-side combine
  * cannot reduce (holistic aggs: exact per-key distincts, collects).
  */
object Skew {

  /** Salted equi-join: the big (skewed) side gets a deterministic
    * salt in [0, saltBuckets) derived from stable row content, the
    * small side is replicated once per salt value, and the join key
    * becomes (key, salt) — hot keys spread over `saltBuckets`
    * reducers. Row multiplicity: |small| × saltBuckets, so keep the
    * replicated side dim-table-sized.
    */
  def saltedJoin(
      big: DataFrame, small: DataFrame, key: String,
      saltCol: Column, saltBuckets: Int): DataFrame = {
    require(saltBuckets > 0, "saltBuckets must be positive")
    // a null / non-castable salt source coalesces to bucket 0 rather
    // than producing a null salt (which the inner join would silently
    // drop, diverging from the unsalted join's semantics)
    val salted = big.withColumn("_salt",
      pmod(coalesce(saltCol.cast("long"), lit(0L)), lit(saltBuckets.toLong)))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0L), lit(saltBuckets - 1L))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }
}
