package graft

import graft.operators.{Events, Trends}

class EventsSpec extends SparkSpec {
  import spark.implicits._

  private def ns(secs: Long): Long = secs * 1000000000L

  test("sessionize splits on gaps larger than the threshold") {
    val ev = Seq(
      (1L, 7L, ns(0), 1.0), (2L, 7L, ns(100), 2.0), // session 1
      (3L, 7L, ns(2000), 3.0), // gap 1900s > 1800 -> session 2
      (4L, 8L, ns(50), 4.0) // other user
    ).toDF("event_id", "user_id", "ts", "value")
    val out = Events.sessionize(ev, 1800)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("duration_secs"))).toMap
    assert(out((7L, 1L)) == (2L, 100L))
    assert(out((7L, 2L)) == (1L, 0L))
    assert(out((8L, 1L)) == (1L, 0L))
  }

  test("transitionMatrix counts consecutive per-user pairs and " +
    "normalizes per source state") {
    val ev = Seq(
      (1L, 7L, ns(0), "view"), (2L, 7L, ns(10), "click"),
      (3L, 7L, ns(20), "view"), (4L, 7L, ns(30), "click"),
      (5L, 8L, ns(5), "view"), (6L, 8L, ns(6), "buy")
    ).toDF("event_id", "user_id", "ts", "event_type")
    // user 7: view→click, click→view, view→click; user 8: view→buy;
    // no cross-user pair (user 8's view never chains to user 7)
    val out = Events.transitionMatrix(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_trans"), r.getAs[Double]("prob")))).toMap
    assert(out.size == 3)
    assert(out(("view", "click")) == ((2L, 0.666667)))
    assert(out(("view", "buy")) == ((1L, 0.333333)))
    assert(out(("click", "view")) == ((1L, 1.0)))
  }

  test("growth labels rising and declining types") {
    // type A: 1 early, 4 late (rising); type B: 4 early, 1 late (declining)
    val rows = Seq(
      ("A", ns(0)), ("A", ns(900)), ("A", ns(910)), ("A", ns(920)), ("A", ns(930)),
      ("B", ns(1)), ("B", ns(2)), ("B", ns(3)), ("B", ns(4)), ("B", ns(1000))
    ).zipWithIndex.map { case ((t, ts), i) => (i.toLong, 1L, ts, t, 1.0) }
    val ev = rows.toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = Trends.growth(ev)
      .collect().map(r => r.getString(0) -> r.getAs[String]("trend")).toMap
    assert(out("A") == "rising")
    assert(out("B") == "declining")
  }

  test("asofJoin picks the latest prior left event, inclusive on ties") {
    val rows = Seq(
      // user 1: views at 10, 20; purchases at 15, 20, 5
      (100L, 1L, ns(10), "view", 0.0),
      (101L, 1L, ns(20), "view", 0.0),
      (102L, 1L, ns(15), "purchase", 1.0),
      (103L, 1L, ns(20), "purchase", 1.0),  // ties with view@20 -> inclusive
      (104L, 1L, ns(5), "purchase", 1.0),   // before any view -> excluded
      // user 2: purchase with no views at all -> excluded
      (200L, 2L, ns(50), "purchase", 1.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = Events.asofJoin(rows, "view", "purchase")
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet == Set(102L, 103L))
    assert(out(102L) == (10L, 5L))  // view@10 is the latest <= 15
    assert(out(103L) == (20L, 0L))  // equal timestamp matches inclusively
  }

  test("retention cohorts users by first week and tracks distinct actives") {
    val wk = 604800L
    val rows = Seq(
      // user 1: weeks 0, 1, 2 (two events in week 1 count once)
      (1L, 1L, ns(10), "view", 0.0),
      (2L, 1L, ns(wk + 10), "view", 0.0),
      (3L, 1L, ns(wk + 20), "click", 0.0),
      (4L, 1L, ns(2 * wk + 10), "view", 0.0),
      // user 2: weeks 0, 2 (skips week 1)
      (5L, 2L, ns(20), "view", 0.0),
      (6L, 2L, ns(2 * wk + 5), "view", 0.0),
      // user 3: first seen week 1 -> its own cohort
      (7L, 3L, ns(wk + 5), "view", 0.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = Events.retention(rows, periodSecs = wk, maxOffset = 8)
      .collect()
      .map(r => (r.getAs[Long]("cohort_period"), r.getAs[Long]("period_offset"))
        -> (r.getAs[Long]("n_users"), r.getAs[Double]("retained_frac")))
      .toMap
    assert(out((0L, 0L)) == (2L, 1.0))
    assert(out((0L, 1L)) == (1L, 0.5))  // only user 1 active week 1
    assert(out((0L, 2L)) == (2L, 1.0))  // both again in week 2
    assert(out((1L, 0L)) == (1L, 1.0))  // user 3's own cohort
    assert(!out.contains((1L, 1L)))
  }

  test("anomalies flags days whose count z-score crosses the threshold") {
    val day = 86400L
    // type A: counts 10,10,10,22 across 4 days -> day 3 is the spike;
    // type B: a single day -> no sample stddev -> null z, not flagged
    val rows =
      (0 until 3).flatMap(d => (0 until 10).map(i =>
        (d * 100L + i, 1L, ns(d * day + i), "A", 0.0))) ++
        (0 until 22).map(i => (300L + i, 1L, ns(3 * day + i), "A", 0.0)) ++
        Seq((400L, 2L, ns(10), "B", 0.0))
    val out = Events.anomalies(rows.toDF(
      "event_id", "user_id", "ts", "event_type", "value"), 1.4)
      .collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString, r.getString(1))
        -> (r.getAs[Long]("cnt"), r.getAs[Boolean]("is_anomaly")))
      .toMap
    assert(out(("1970-01-04", "A")) == (22L, true))
    assert(out(("1970-01-01", "A"))._2 == false)
    assert(out(("1970-01-01", "B")) == (1L, false)) // null z -> false
  }

  test("propsAgg extracts typed k, buckets it, and nulls malformed JSON") {
    val rows = Seq(
      (1L, "click", """{"k": 10}"""),
      (2L, "click", """{"k": 30}"""),
      (3L, "click", """{"k": 49}"""),
      (4L, "view", """{"k": 7}"""),
      (5L, "view", "not json"), // malformed -> null k, null bucket
      (6L, "view", """{"other": 1}""")) // missing key -> null k
      .toDF("event_id", "event_type", "props")
    val out = Events.propsAgg(rows, bucketWidth = 25L)
      .collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) -1L else r.getLong(1))
        -> r)
      .toMap
    // click: k=10 -> bucket 0; k=30,49 -> bucket 1
    assert(out(("click", 0L)).getAs[Long]("n_events") == 1L)
    assert(out(("click", 0L)).getAs[Long]("sum_k") == 10L)
    val c1 = out(("click", 1L))
    assert(c1.getAs[Long]("n_events") == 2L)
    assert(c1.getAs[Long]("sum_k") == 79L)
    assert(c1.getAs[Double]("avg_k") == 39.5)
    assert(c1.getAs[Long]("min_k") == 30L && c1.getAs[Long]("max_k") == 49L)
    // the two null-k view rows group together under the null bucket
    val vNull = out(("view", -1L))
    assert(vNull.getAs[Long]("n_events") == 2L)
    assert(vNull.isNullAt(vNull.fieldIndex("sum_k")))
  }

  test("propsAgg strict-parse parity with the oracle's json_type " +
    "gate: float and quoted k null out; null bucket sorts LAST") {
    // pins the exact cases the DuckDB oracle's json_valid+json_type
    // guard encodes: integer token -> value, float token -> null,
    // quoted "12" -> null, malformed -> null, negative ok
    val rows = Seq(
      (1L, "t", """{"k": 12}"""),
      (2L, "t", """{"k": 12.5}"""),
      (3L, "t", """{"k": "12"}"""),
      (4L, "t", "nope"),
      (5L, "t", """{"k": -3}"""))
      .toDF("event_id", "event_type", "props")
    val out = Events.propsAgg(rows, bucketWidth = 25L).collect()
    val buckets = out.map(r =>
      (if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getAs[Long]("n_events"))).toSeq
    // -3 div 25 = 0 — Spark's div and DuckDB's // BOTH truncate
    // toward zero on integers (verified), so 12 and -3 share bucket
    // 0; 12.5/"12"/malformed coalesce into the null bucket, LAST
    assert(buckets == Seq(Some(0L) -> 2L, None -> 3L))
  }

  test("dailyActiveUsers counts distinct users per day") {
    import org.apache.spark.sql.functions._
    // day 0: users 1,1,2 -> dau 2, 3 events; day 1: user 3 once
    val ev = Seq(
      (1L, 1L, ns(10), "a", 1.0), (2L, 1L, ns(20), "a", 1.0),
      (3L, 2L, ns(30), "a", 1.0), (4L, 3L, ns(86400 + 5), "a", 1.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = Events.dailyActiveUsers(ev).orderBy(col("day"))
      .collect()
      .map(r => (r.getAs[Long]("n_events"), r.getAs[Long]("dau"),
        r.getAs[Double]("events_per_user")))
    assert(out.toSeq == Seq((3L, 2L, 1.5), (1L, 1L, 1.0)))
  }

  test("valuePercentiles interpolates exactly") {
    // type A: values 0..100 -> p50=50, p90=90, p99=99 exactly
    val ev = (0 to 100).map(v => (v.toLong, 1L, ns(v.toLong), "A", v.toDouble))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val row = Events.valuePercentiles(ev, "event_type", "value")
      .collect().head
    assert(row.getAs[Long]("n_events") == 101L)
    assert(row.getAs[Double]("p50") == 50.0)
    assert(row.getAs[Double]("p90") == 90.0)
    assert(row.getAs[Double]("p99") == 99.0)
  }
}
