package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics in batch form: tumbling-window aggregation,
  * gap sessionization, per-entity top-k. The same logical shapes run
  * under Structured Streaming (see graft.streaming) — these batch
  * variants are the oracle-checkable twins.
  *
  * `ts` is a LONG of nanoseconds since epoch — Tables.events
  * normalizes whatever the parquet physically stores (NANOS long or
  * MICROS timestamp) to that canonical form. All time arithmetic is
  * integer — `ts div 1e9` — so engines agree bit-for-bit.
  */
object Events {

  /** Floor-seconds since epoch from the nanos long. */
  def tsSecs(c: String): org.apache.spark.sql.Column =
    expr(s"$c div 1000000000")

  /** Tumbling 1-day windows per event_type. Single map-side-combined
    * aggregation; at cluster scale this is the canonical
    * pre-aggregated rollup feeding the streaming sink.
    */
  def dailyAgg(events: DataFrame): DataFrame =
    events
      .withColumn("day", to_date(timestamp_seconds(tsSecs("ts"))))
      .groupBy(col("day"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("value")), 2).as("sum_value"),
        round(avg(col("value")) + lit(1e-9), 4).as("avg_value"))

  /** Gap sessionization: a new session starts when the gap to the
    * previous event of the same user exceeds `gapSecs`. One shuffle by
    * user_id; windows run within partitions.
    * Event order within a second is by event_id (engine-stable).
    */
  def sessionize(events: DataFrame, gapSecs: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("s"), col("event_id"))
    val withS = events.withColumn("s", tsSecs("ts"))
    val flagged = withS
      .withColumn("prev_s", lag(col("s"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_s").isNull || col("s") - col("prev_s") > gapSecs, 1)
          .otherwise(0))
      .withColumn("session_idx",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"),
        (max(col("s")) - min(col("s"))).as("duration_secs"))
  }

  /** First-order Markov transition matrix over per-user event-type
    * sequences: for every consecutive event pair of the same user
    * (time order, event_id-stable within a second), count
    * prev_type → next_type and normalize per source state — the
    * behavioral-model summary (next-action prediction, funnel drift
    * detection) event pipelines derive from clickstreams.
    *
    * Scale shape: ONE shuffle by user_id for the lag window (the
    * same exchange sessionize uses — at lake scale the two share it
    * via a common repartition), then a map-side-combined pair count.
    * The matrix is ≤ |event_types|² rows, so the row-total
    * normalizer derives from the MATRIX (cached, bounded), never by
    * re-scanning events, and joins back broadcast.
    */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("s"), col("event_id"))
    val matrix = events.withColumn("s", tsSecs("ts"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_trans"))
      .cache()
    val totals = matrix.groupBy(col("prev_type"))
      .agg(sum(col("n_trans")).as("tot"))
    matrix.join(broadcast(totals), Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n_trans"),
        round(col("n_trans").cast("double") / col("tot") + lit(1e-9), 6)
          .as("prob"))
  }

  /** Backward as-of join per user: for each `rightType` event, the
    * most recent `leftType` event time at or before it (inclusive) —
    * the classic event-enrichment operator Spark has no builtin for.
    * Implemented as ONE union + ONE window over (user_id, time): each
    * event shuffles exactly once, whereas the naive inequality join
    * emits |L_u|·|R_u| pairs per user before aggregating. Left rows
    * sort before right rows at equal timestamps (tag ordering), so
    * equality matches like an inclusive ASOF JOIN.
    * Output: (event_id, user_id, right_s, left_s, lag_secs) for right
    * events that have a preceding left event.
    */
  def asofJoin(
      events: DataFrame, leftType: String, rightType: String): DataFrame = {
    val withS = events.withColumn("s", tsSecs("ts"))
    val tagged = withS.where(col("event_type") === leftType)
      .select(col("user_id"), col("s"), lit(0).as("tag"),
        lit(null).cast("long").as("event_id"))
      .unionAll(withS.where(col("event_type") === rightType)
        .select(col("user_id"), col("s"), lit(1).as("tag"), col("event_id")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("s"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("left_s",
        last(when(col("tag") === 0, col("s")), ignoreNulls = true).over(w))
      .where(col("tag") === 1 && col("left_s").isNotNull)
      .select(col("event_id"), col("user_id"), col("s").as("right_s"),
        col("left_s"), (col("s") - col("left_s")).as("lag_secs"))
  }

  /** Event-time range join: for each `atType` event, the number of
    * `countType` events by the same user in the trailing `rangeSecs`
    * window (inclusive). Expressed as ONE RANGE-frame window over the
    * combined per-user timeline — the scale-correct form of an
    * interval join (a t BETWEEN inequality join would re-emit every
    * in-range pair; the window scans each event once per user).
    */
  def rangeCount(
      events: DataFrame, countType: String, atType: String,
      rangeSecs: Long): DataFrame = {
    val withS = events
      .where(col("event_type").isin(countType, atType))
      .withColumn("s", tsSecs("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("s"))
      .rangeBetween(-rangeSecs, Window.currentRow)
    withS
      .withColumn("n_in_range",
        sum(when(col("event_type") === countType, 1).otherwise(0)).over(w))
      .where(col("event_type") === atType)
      .select(col("event_id"), col("user_id"), col("s"),
        col("n_in_range").cast("long").as("n_in_range"))
  }

  /** Ordered-stage conversion funnel with first-touch semantics: a
    * user reaches stage i when they have a stage-i event STRICTLY
    * after their stage-(i-1) entry time. Every per-stage frame is one
    * row per user; all joins/aggregations key on user_id, so the
    * stages reuse one hash partitioning and the final summary is a
    * union of K one-row aggregates plus a K-row window (driver-scale
    * — its partition-less window warning is expected and harmless).
    * Output: (stage_idx, stage, users, conv_from_prev).
    */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val withS = events.withColumn("s", tsSecs("ts"))
    // every NON-FINAL stage frame has two consumers (its own count +
    // the next stage's join) — cache those so the events scan runs
    // once per stage, not O(K²) times (one narrow row per user per
    // stage; the final frame has a single consumer and stays lazy).
    // Cache lifecycle: caller-owned, like Dedup — Bench/Verify run
    // spark.catalog.clearCache() between queries.
    val stageFrames = stages.tail.scanLeft(
      withS.where(col("event_type") === stages.head)
        .groupBy(col("user_id")).agg(min(col("s")).as("entry_s"))) {
      (prev, stage) =>
        withS.where(col("event_type") === stage)
          .join(prev.select(col("user_id"), col("entry_s").as("prev_s")),
            Seq("user_id"))
          .where(col("s") > col("prev_s"))
          .groupBy(col("user_id")).agg(min(col("s")).as("entry_s"))
    }
    stageFrames.init.foreach(_.cache())
    val counts = stageFrames.zip(stages).zipWithIndex.map {
      case ((df, stage), i) =>
        df.agg(count(lit(1)).as("users"))
          .select(lit(i.toLong).as("stage_idx"), lit(stage).as("stage"),
            col("users"))
    }.reduce(_ unionAll _)
    // nullif guard: a zero-user stage makes the next rate 0/0, which
    // ANSI mode raises as DIVIDE_BY_ZERO — emit NULL instead
    counts.withColumn("conv_from_prev",
      round(col("users").cast("double") /
        nullif(lag(col("users"), 1).over(Window.orderBy(col("stage_idx")))
          .cast("double"), lit(0.0)), 6))
  }

  /** Top-k users by summed value over a filtered event type.
    * Rank by rounded sum (engine-stable), id tiebreak.
    *
    * The global (partition-less) window runs over a frame ALREADY
    * pruned to k rows by TakeOrderedAndProject, so the "No Partition
    * Defined ... moving all data to a single partition" warning it
    * logs is expected and harmless at any corpus size — k rows move,
    * never the aggregated user table.
    */
  def topUsers(events: DataFrame, eventType: String, k: Int): DataFrame = {
    val sums = events
      .where(col("event_type") === eventType)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
    sums
      .orderBy(col("sum_value").desc, col("user_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("sum_value").desc, col("user_id"))))
  }

  /** Semi-structured property extraction + rollup: parse the JSON
    * `props` payload with a TYPED schema (`from_json` — codegen'd
    * Jackson parse, no UDF). STRICT extraction semantics: malformed
    * JSON, a missing key, a non-integer number and a quoted "12" all
    * yield NULL (Jackson's typed parse does not coerce) — the DuckDB
    * oracle replays this with json_valid + a json_type integer gate,
    * NOT a bare CAST (which would error on malformed JSON and round
    * '12.5' to 13). Aggregate per (event_type, k-bucket); a null
    * bucket (unparseable k) sorts NULLS LAST explicitly — Spark's
    * ascending default is nulls-first, DuckDB's is nulls-last, so
    * the tie is pinned rather than inherited. ONE narrow projection
    * + one map-side-combined aggregate; the JSON never shuffles —
    * only the extracted long does.
    */
  def propsAgg(events: DataFrame, bucketWidth: Long = 25L): DataFrame =
    events
      .withColumn("k",
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k"))
      .withColumn("k_bucket", expr(s"k div $bucketWidth"))
      .groupBy(col("event_type"), col("k_bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        round(avg(col("k")) + lit(1e-9), 4).as("avg_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"), col("k_bucket").asc_nulls_last)

  /** Daily-count anomaly detection per event_type: z-score of each
    * day's event count against that type's mean/stddev over the whole
    * range — the alerting primitive over an ingest stream ("did
    * clicks crater on Tuesday?").
    *
    * The corpus collapses to one row per (day, type) in a single
    * map-side-combined aggregate; the per-type mean/stddev windows
    * then run on that days×types frame — driver-scale at any event
    * volume. Counts are integers, so the mean is exact; the stddev's
    * float fold is rounded with the +1e-9 guard, and the anomaly flag
    * compares the ROUNDED z on both engines (a raw-value CASE could
    * disagree at the threshold boundary). A single-day type has no
    * sample stddev → null z, flag false.
    */
  def anomalies(events: DataFrame, zThreshold: Double): DataFrame = {
    val daily = events
      .withColumn("day", to_date(timestamp_seconds(tsSecs("ts"))))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val byType = Window.partitionBy(col("event_type"))
    daily
      .withColumn("z_score", round(
        (col("cnt") - avg(col("cnt")).over(byType)) /
          nullif(stddev_samp(col("cnt")).over(byType), lit(0.0))
          + lit(1e-9), 6))
      .withColumn("is_anomaly",
        coalesce(abs(col("z_score")) >= zThreshold, lit(false)))
  }

  /** Epoch-period index from the nanos long — integer arithmetic
    * only (periods are anchored at the epoch: 86400 = days,
    * 604800 = Thursday-anchored weeks), so both engines agree
    * bit-for-bit with no timezone/date_trunc semantics in play.
    */
  def tsPeriods(c: String, periodSecs: Long): org.apache.spark.sql.Column =
    expr(s"($c div 1000000000) div $periodSecs")

  /** Daily active users: events per day, distinct users per day, and
    * the events-per-user intensity — the DAU telemetry of an event
    * pipeline.
    *
    * EXACT countDistinct for oracle parity: a two-phase aggregate
    * (per-partition distinct then merge), whose shuffle carries the
    * per-day distinct user sets. `approx_count_distinct` (HLL++)
    * would shrink that exchange to a constant-size sketch per day, at
    * the price of exact parity.
    */
  def dailyActiveUsers(events: DataFrame): DataFrame =
    events
      .withColumn("day", to_date(timestamp_seconds(tsSecs("ts"))))
      .groupBy(col("day"))
      .agg(
        count(lit(1)).cast("long").as("n_events"),
        countDistinct(col("user_id")).cast("long").as("dau"))
      .withColumn("events_per_user",
        round(col("n_events").cast("double") / col("dau") + lit(1e-9), 4))

  /** Per-type value-distribution summary: count, mean, and exact
    * linear-interpolation percentiles (p50/p90/p99) — the latency/
    * value SLO rollup of an event pipeline.
    *
    * EXACT percentiles for oracle parity (Spark `percentile` and
    * DuckDB `quantile_cont` share the interpolation rule — the
    * sc_ploidy precedent). Scale contract: exact per-group
    * percentiles buffer a group's values; `percentile_approx` would
    * bound the buffer, at the price of exact parity.
    */
  def valuePercentiles(
      events: DataFrame, typeCol: String, valCol: String): DataFrame = {
    def r6(c: org.apache.spark.sql.Column) = round(c + lit(1e-9), 6)
    events.groupBy(col(typeCol))
      .agg(
        count(lit(1)).cast("long").as("n_events"),
        r6(avg(col(valCol))).as("mean_value"),
        r6(expr(s"percentile($valCol, 0.5)")).as("p50"),
        r6(expr(s"percentile($valCol, 0.9)")).as("p90"),
        r6(expr(s"percentile($valCol, 0.99)")).as("p99"))
  }

  /** Cohort retention: cohort = a user's first active period (day,
    * week, ... via `periodSecs`); n_users = distinct users from that
    * cohort active at each period offset (0..maxOffset);
    * retained_frac = n_users / cohort size.
    *
    * One distinct over (user, period) — map-side combined, the corpus
    * collapses to at most |users|·|periods| rows — then a per-user MIN
    * window (single user_id shuffle, no self-join) tags each activity
    * row with its cohort. The final aggregate and the cohort-size
    * window run on cohort×offset rows — driver-scale, so the
    * partition-less first_value frame is harmless at any event count.
    */
  def retention(
      events: DataFrame, periodSecs: Long, maxOffset: Int): DataFrame = {
    val uw = events
      .select(col("user_id"), tsPeriods("ts", periodSecs).as("period"))
      .distinct()
    val perUser = Window.partitionBy(col("user_id"))
    val agg = uw
      .withColumn("cohort_period", min(col("period")).over(perUser))
      .withColumn("period_offset", col("period") - col("cohort_period"))
      .where(col("period_offset") <= maxOffset)
      .groupBy(col("cohort_period"), col("period_offset"))
      .agg(count(lit(1)).as("n_users")) // (user, period) distinct upstream
    val byCohort = Window.partitionBy(col("cohort_period"))
      .orderBy(col("period_offset"))
    // offset 0 exists for every cohort by construction (a user's min
    // period is their own first row), so first_value is the cohort size
    agg.withColumn("retained_frac",
      round(col("n_users").cast("double") /
        first(col("n_users")).over(byCohort) + lit(1e-9), 6))
  }
}
