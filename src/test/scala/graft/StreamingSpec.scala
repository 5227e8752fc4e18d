package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingAggs

class StreamingSpec extends SparkSpec {

  test("windowedAgg aggregates tumbling windows over a memory stream") {
    val sql = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sql

    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val agg = StreamingAggs.windowedAgg(events, "1 hour", "10 minutes")
    val query = agg.writeStream
      .format("memory")
      .queryName("windowed_agg_test")
      .outputMode(OutputMode.Append())
      .start()

    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    input.addData((t(1, 5), "click", 1.0), (t(1, 30), "click", 2.0),
      (t(1, 45), "view", 3.0))
    query.processAllAvailable()
    // advance watermark far enough to close the 01:00 window
    input.addData((t(3, 0), "click", 1.0))
    query.processAllAvailable()
    input.addData((t(5, 0), "click", 1.0))
    query.processAllAvailable()

    val rows = spark.table("windowed_agg_test").collect()
      .map(r => (r.getAs[Timestamp]("window_start").toString,
        r.getAs[String]("event_type")) ->
        (r.getAs[Long]("cnt"), r.getAs[Double]("sum_value"))).toMap
    query.stop()

    assert(rows(("2024-01-01 01:00:00.0", "click")) == (2L, 3.0))
    assert(rows(("2024-01-01 01:00:00.0", "view")) == (1L, 3.0))
  }

  test("windowedAgg end to end over a parquet FILE source — the " +
    "read-path wiring the memory-source specs don't touch") {
    import spark.implicits._

    val dir = java.nio.file.Files
      .createTempDirectory("graft_stream_src").toFile
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def writeBatch(rows: Seq[(Timestamp, String, Double)]): Unit =
      rows.toDF("ts", "event_type", "value").coalesce(1)
        .write.mode("append").parquet(dir.getAbsolutePath)

    // batch present BEFORE the stream starts: the startup-backfill
    // listing path
    writeBatch(Seq((t(1, 5), "click", 1.0), (t(1, 30), "click", 2.0),
      (t(1, 45), "view", 3.0)))
    val events = spark.readStream
      .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
      .parquet(dir.getAbsolutePath)
    assert(events.isStreaming)
    val query = StreamingAggs.windowedAgg(events, "1 hour", "10 minutes")
      .writeStream
      .format("memory")
      .queryName("windowed_agg_file_test")
      .outputMode(OutputMode.Append())
      .start()
    query.processAllAvailable()
    // two more MICRO-BATCHES arrive as new files; the second advances
    // the watermark far enough to close the 01:00 window
    writeBatch(Seq((t(3, 0), "click", 1.0)))
    query.processAllAvailable()
    writeBatch(Seq((t(5, 0), "click", 1.0)))
    query.processAllAvailable()

    val rows = spark.table("windowed_agg_file_test").collect()
      .map(r => (r.getAs[Timestamp]("window_start").toString,
        r.getAs[String]("event_type")) ->
        (r.getAs[Long]("cnt"), r.getAs[Double]("sum_value"))).toMap
    query.stop()

    // identical rollup to the memory-source spec: the file source
    // changes the wiring, not the semantics
    assert(rows(("2024-01-01 01:00:00.0", "click")) == (2L, 3.0))
    assert(rows(("2024-01-01 01:00:00.0", "view")) == (1L, 3.0))
  }

  test("windowedDau sketches per-window distinct users; exact streaming " +
    "distinct is rejected by Spark (the sketch is the only legal form)") {
    val sql = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sql

    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    def t(h: Int, m: Int, s: Int = 0) =
      Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:$s%02d")

    // the claim that makes the sketch load-bearing: EXACT distinct on
    // a stream does not plan — Spark refuses at query start
    import org.apache.spark.sql.functions.{col, countDistinct, window}
    val exact = intercept[org.apache.spark.sql.AnalysisException] {
      events.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(countDistinct(col("user_id")).as("dau"))
        .writeStream.format("memory").queryName("never_runs")
        .outputMode(OutputMode.Append()).start()
    }
    assert(exact.getMessage.toLowerCase.contains("distinct"), exact.getMessage)

    val query = StreamingAggs.windowedDau(events, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("windowed_dau_test")
      .outputMode(OutputMode.Append()).start()
    // window 01: 400 events from 200 distinct users (2 events each),
    // split across two micro-batches so sketches must MERGE
    input.addData((0 until 200).map(u => (t(1, u % 60, u / 60), u.toLong)): _*)
    query.processAllAvailable()
    input.addData((0 until 200).map(u => (t(1, u % 60, u / 60 + 30), u.toLong)): _*)
    query.processAllAvailable()
    // window 03: 3 events, 2 users; then advance the watermark to
    // close both windows
    input.addData((t(3, 1), 1L), (t(3, 2), 1L), (t(3, 3), 2L))
    query.processAllAvailable()
    input.addData((t(6, 0), 99L))
    query.processAllAvailable()
    val rows = spark.table("windowed_dau_test").collect()
      .map(r => r.getAs[Timestamp]("window_start").toString ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("dau"))).toMap
    query.stop()

    val (n1, dau1) = rows("2024-01-01 01:00:00.0")
    assert(n1 == 400L)
    assert(math.abs(dau1 - 200L) <= 12L,
      s"window-1 dau $dau1 outside the 6% envelope of 200")
    val (n3, dau3) = rows("2024-01-01 03:00:00.0")
    assert(n3 == 3L && dau3 == 2L,
      s"small window must be exact-range: $n3/$dau3") // HLL sparse regime
  }

  test("windowedPropsAgg extracts typed JSON inside the windowed agg") {
    val sql = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sql

    val input = MemoryStream[(Timestamp, String, String)]
    val events = input.toDF().toDF("ts", "event_type", "props")

    val agg = StreamingAggs.windowedPropsAgg(events, "1 hour", "10 minutes")
    val query = agg.writeStream
      .format("memory")
      .queryName("props_agg_test")
      .outputMode(OutputMode.Append())
      .start()

    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    input.addData(
      (t(1, 5), "click", """{"k": 10}"""),
      (t(1, 30), "click", """{"k": 30}"""),
      (t(1, 45), "view", "not json")) // malformed -> null k bucket
    query.processAllAvailable()
    input.addData((t(3, 0), "click", """{"k": 1}"""))
    query.processAllAvailable()
    input.addData((t(5, 0), "click", """{"k": 1}"""))
    query.processAllAvailable()

    val rows = spark.table("props_agg_test").collect()
      .map(r => (r.getAs[Timestamp]("window_start").toString,
        r.getAs[String]("event_type"),
        if (r.isNullAt(2)) -1L else r.getLong(2)) ->
        (r.getAs[Long]("n_events"),
          if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    query.stop()

    // k=10 -> bucket 0; k=30 -> bucket 1; malformed -> null bucket
    assert(rows(("2024-01-01 01:00:00.0", "click", 0L)) == (1L, 10L))
    assert(rows(("2024-01-01 01:00:00.0", "click", 1L)) == (1L, 30L))
    assert(rows(("2024-01-01 01:00:00.0", "view", -1L)) == (1L, -1L))
  }

  test("sessionizeStream closes sessions inline and by event-time timeout") {
    val sql = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sql
    import graft.streaming.SessionEvent

    val input = MemoryStream[SessionEvent]
    val sessions = StreamingAggs.sessionizeStream(input.toDS(), gapSecs = 1800L)
    val query = sessions.writeStream
      .format("memory")
      .queryName("sessionize_test")
      .outputMode(OutputMode.Append())
      .start()

    // NOTE: event times start well above epoch 0 — a row whose event
    // time equals the current watermark is dropped as late, and the
    // initial watermark is 0
    def ev(uid: Long, sec: Long, v: Double) =
      SessionEvent(uid, new Timestamp(sec * 1000L), v)
    // batch 1: user 1 has two events 10s apart; user 2 one event
    input.addData(ev(1L, 100L, 1.0), ev(1L, 110L, 2.0), ev(2L, 105L, 4.0))
    query.processAllAvailable()
    // batch 2: user 2 returns after a big gap -> inline close of their
    // first session; watermark advances to 4000s
    input.addData(ev(2L, 4000L, 8.0))
    query.processAllAvailable()
    // one more batch so user 1's event-time timeout (110 + 1800s)
    // fires against the advanced watermark
    input.addData(ev(2L, 4010L, 1.0))
    query.processAllAvailable()

    val rows = spark.table("sessionize_test").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start")) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"),
          r.getAs[Long]("duration_secs"))).toMap
    query.stop()

    assert(rows((2L, 105L)) == (1L, 4.0, 0L))   // inline close on return
    assert(rows((1L, 100L)) == (2L, 3.0, 10L))  // closed by timeout
  }

  test("sessionizeStream survives time-disordered file batches: the " +
    "late-group timeout clamps to the watermark, not a query kill") {
    // The r20 advise-mode smoke crash shape: a multi-batch file-source
    // drain processes a LATE batch after the watermark advanced, and
    // the late-row filter uses the lagged (previous batch's)
    // watermark while setTimeoutTimestamp validates against the
    // advanced one — so a late-only group reaches the user function
    // and its natural timeout (last+gap) is in the past, which the
    // API rejects by KILLING THE QUERY. The clamp degrades it to
    // closing at the next watermark advance. (A MemoryStream can't
    // pin this: its one-batch-per-drain shape filters the late rows
    // with the same watermark the validator uses.)
    import spark.implicits._
    import graft.streaming.SessionEvent
    val work = java.nio.file.Files
      .createTempDirectory("graft_latefile").toString
    val inDir = s"$work/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    def slice(name: String, rows: Seq[(Long, Long, Double)]): String = {
      val p = s"$work/$name"
      rows.map { case (u, sec, v) =>
        SessionEvent(u, new Timestamp(sec * 1000L), v) }
        .toDF().coalesce(1).write.mode("overwrite").parquet(p)
      p
    }
    def append(src: String): Unit =
      new java.io.File(src).listFiles
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(
            inDir, s"${f.getParentFile.getName}_${f.getName}")): Unit
        }
    val late = slice("b_late", Seq((1L, 100000L, 1.0)))
    val early = slice("a_early", Seq((2L, 50000L, 7.0)))
    val sent = slice("c_sent", Seq((-1L, 400000L, 0.0)))
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir).as[SessionEvent]
    val query = StreamingAggs.sessionizeStream(stream, gapSecs = 1800L)
      .writeStream.format("memory").queryName("sessionize_disorder")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1 = the late-times slice (watermark -> 100000s), batch 2
      // = the early slice (user 2 at 50000s, 50000s below); modTime
      // order pins the batch order, one file per trigger
      append(late)
      Thread.sleep(20)
      append(early)
      query.processAllAvailable()
      // sentinel advances the watermark past every timeout; one more
      // pass lets the timeouts fire against it
      Thread.sleep(20)
      append(sent)
      query.processAllAvailable()
      query.processAllAvailable()
      val rows = spark.table("sessionize_disorder").collect()
        .map(r => r.getAs[Long]("user_id") ->
          (r.getAs[Long]("session_start"), r.getAs[Long]("n_events")))
        .toMap
      // pre-clamp this query DIED in batch 2
      // (FLATMAPGROUPSWITHSTATE_USER_FUNCTION_ERROR); post-clamp the
      // late group survives and both sessions close by timeout
      assert(query.exception.isEmpty, s"query died: ${query.exception}")
      assert(rows.get(1L).contains((100000L, 1L)), s"$rows")
      assert(rows.get(2L).contains((50000L, 1L)),
        s"late-only group's session lost: $rows")
    } finally query.stop()
  }

  test("sessionizeStream end to end over a parquet FILE source — the " +
    "stateful flatMapGroupsWithState path on the real read wiring") {
    import spark.implicits._
    import graft.streaming.SessionEvent

    val dir = java.nio.file.Files
      .createTempDirectory("graft_stream_sess").toFile
    def ev(uid: Long, sec: Long, v: Double) =
      SessionEvent(uid, new Timestamp(sec * 1000L), v)
    def writeBatch(rows: Seq[SessionEvent]): Unit =
      rows.toDS().coalesce(1)
        .write.mode("append").parquet(dir.getAbsolutePath)

    // startup backfill: the same batch-1 shape as the memory spec
    writeBatch(Seq(ev(1L, 100L, 1.0), ev(1L, 110L, 2.0), ev(2L, 105L, 4.0)))
    val events = spark.readStream
      .schema("user_id BIGINT, ts TIMESTAMP, value DOUBLE")
      .parquet(dir.getAbsolutePath)
      .as[SessionEvent]
    val query = StreamingAggs.sessionizeStream(events, gapSecs = 1800L)
      .writeStream
      .format("memory")
      .queryName("sessionize_file_test")
      .outputMode(OutputMode.Append())
      .start()
    query.processAllAvailable()
    writeBatch(Seq(ev(2L, 4000L, 8.0)))   // inline close of user 2
    query.processAllAvailable()
    writeBatch(Seq(ev(2L, 4010L, 1.0)))   // advances the timeout clock
    query.processAllAvailable()

    val rows = spark.table("sessionize_file_test").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start")) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"),
          r.getAs[Long]("duration_secs"))).toMap
    query.stop()

    // identical sessions to the memory-source spec
    assert(rows((2L, 105L)) == (1L, 4.0, 0L))
    assert(rows((1L, 100L)) == (2L, 3.0, 10L))
  }

  test("windowed drift monitoring: streaming bucket counts feed PSI per closed window") {
    val sql = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sql
    import org.apache.spark.sql.functions._
    import graft.operators.Drift

    // static baseline distribution for stratum s: buckets 40%/60%
    val baseline = (Seq.fill(4)(("s", 0L)) ++ Seq.fill(6)(("s", 1L)))
      .toDF("stratum", "bucket")
      .groupBy(col("stratum"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .cache()

    val input = MemoryStream[(Timestamp, String, Long)]
    val events = input.toDF().toDF("ts", "stratum", "bucket")
    // ONE streaming aggregation (watermarked windowed bucket counts);
    // the PSI fold runs per micro-batch in foreachBatch over the
    // CLOSED windows — the composition a monitoring pipeline deploys
    val counts = events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("stratum"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("stratum"), col("bucket"), col("cnt"))
    // one PSI computation PER closed window: a micro-batch may close
    // several windows at once, and folding their counts into a single
    // psiFromCounts call would merge distinct hourly distributions
    // (each window is its own "current" snapshot vs the baseline)
    val results = scala.collection.mutable
      .ArrayBuffer.empty[(String, String, Double, String)]
    val query = counts.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val closed = batch.cache() // two consumers: window list + per-window slices
        closed.select(col("window_start")).distinct()
          .collect().map(_.getTimestamp(0)).sortBy(_.getTime).foreach { w =>
            val cur = closed.where(col("window_start") === w)
              .select(col("stratum"), col("bucket"), col("cnt"))
            Drift.psiFromCounts(baseline, cur, "stratum", "bucket", "cnt")
              .collect().foreach { r =>
                results += ((w.toString, r.getAs[String]("stratum"),
                  r.getAs[Double]("psi"), r.getAs[String]("drift_level")))
              }
          }
        closed.unpersist()
        ()
      }
      .start()

    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // hour-1 window: 60%/40% against the 40%/60% baseline;
    // hour-2 window: 40%/60% — identical to baseline, PSI 0
    input.addData((1 to 6).map(_ => (t(1, 5), "s", 0L)) ++
      (1 to 4).map(_ => (t(1, 30), "s", 1L)) ++
      (1 to 4).map(_ => (t(2, 5), "s", 0L)) ++
      (1 to 6).map(_ => (t(2, 30), "s", 1L)): _*)
    query.processAllAvailable()
    // one late event far ahead closes hours 1 AND 2 in the SAME
    // micro-batch — the regime that used to merge their counts
    input.addData((t(5, 0), "s", 0L))
    query.processAllAvailable()
    input.addData((t(7, 0), "s", 0L)) // closes hour 5 too
    query.processAllAvailable()
    query.stop()

    // hour 1: the hand-computed DriftSpec statistic; hour 2: stable 0
    // — distinguishable ONLY if each window got its own PSI pass
    assert(results.exists { case (w, st, p, lvl) =>
      w.startsWith("2024-01-01 01:00") && st == "s" &&
        math.abs(p - 0.162186) < 1e-6 && lvl == "moderate"
    }, s"hour-1 PSI missing from $results")
    assert(results.exists { case (w, st, p, lvl) =>
      w.startsWith("2024-01-01 02:00") && st == "s" &&
        p == 0.0 && lvl == "stable"
    }, s"hour-2 PSI missing from $results")
  }

  test("dedupStream drops in-window duplicate content, state bounded by watermark") {
    val sql = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sql

    val input = MemoryStream[(Timestamp, Long, String)]
    val deduped = StreamingAggs.dedupStream(
      input.toDF().toDF("ts", "doc_id", "text"), "text", "ts", "10 minutes")
    val query = deduped.writeStream
      .format("memory")
      .queryName("dedup_stream_test")
      .outputMode(OutputMode.Append())
      .start()

    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // same content arrives three times within the window, one unique
    input.addData(
      (t(0), 1L, "same content"),
      (t(1), 2L, "same content"),
      (t(2), 3L, "other content"))
    query.processAllAvailable()
    input.addData((t(5), 4L, "same content")) // still in-window dup
    query.processAllAvailable()

    val rows = spark.table("dedup_stream_test").collect()
      .map(r => r.getAs[Long]("doc_id")).toSet
    query.stop()

    // exactly one survivor per distinct content
    assert(rows == Set(1L, 3L))
  }

  test("latestWinsStream resolves keys to their highest version across batches") {
    val sql = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sql
    import graft.streaming.UpsertEvent

    val input = MemoryStream[UpsertEvent]
    val view = StreamingAggs.latestWinsStream(input.toDS())
    val query = view.writeStream
      .format("memory")
      .queryName("latest_wins_test")
      .outputMode(OutputMode.Update())
      .start()

    // batch 1: three keys at their base versions
    input.addData(
      UpsertEvent(1L, 0L, "a0", deleted = false),
      UpsertEvent(2L, 0L, "b0", deleted = false),
      UpsertEvent(3L, 0L, "c0", deleted = false))
    query.processAllAvailable()
    // batch 2: key 1 upserted, key 3 tombstoned; key 2 untouched
    input.addData(
      UpsertEvent(1L, 5L, "a5", deleted = false),
      UpsertEvent(3L, 1L, "c-del", deleted = true))
    query.processAllAvailable()
    // batch 3: out-of-order history for key 1 (v1 after v5 was seen)
    input.addData(UpsertEvent(1L, 1L, "a1-late", deleted = false))
    query.processAllAvailable()

    // update-mode memory sink: the LAST emission per key is current
    val rows = spark.table("latest_wins_test").collect()
      .map(r => (r.getAs[Long]("key"),
        (r.getAs[Long]("version"), r.getAs[String]("payload"),
          r.getAs[Boolean]("deleted"))))
    val current = rows.zipWithIndex.groupBy(_._1._1)
      .map { case (k, vs) => k -> vs.maxBy(_._2)._1._2 }
    query.stop()

    assert(current(1L) == ((5L, "a5", false))) // late v1 did not regress
    assert(current(2L) == ((0L, "b0", false)))
    assert(current(3L) == ((1L, "c-del", true))) // tombstone surfaced
  }

  test("dedupStream end to end over a parquet FILE source") {
    import spark.implicits._

    val dir = java.nio.file.Files
      .createTempDirectory("graft_stream_dedup").toFile
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    def writeBatch(rows: Seq[(Timestamp, Long, String)]): Unit =
      rows.toDF("ts", "doc_id", "text").coalesce(1)
        .write.mode("append").parquet(dir.getAbsolutePath)

    // startup backfill, then one more file — same shape as the
    // memory-source spec
    writeBatch(Seq(
      (t(0), 1L, "same content"),
      (t(1), 2L, "same content"),
      (t(2), 3L, "other content")))
    val docs = spark.readStream
      .schema("ts TIMESTAMP, doc_id BIGINT, text STRING")
      .parquet(dir.getAbsolutePath)
    val query = StreamingAggs.dedupStream(docs, "text", "ts", "10 minutes")
      .writeStream
      .format("memory")
      .queryName("dedup_stream_file_test")
      .outputMode(OutputMode.Append())
      .start()
    query.processAllAvailable()
    writeBatch(Seq((t(5), 4L, "same content"))) // still in-window dup
    query.processAllAvailable()

    val rows = spark.table("dedup_stream_file_test").collect()
      .map(r => r.getAs[Long]("doc_id")).toSet
    query.stop()

    assert(rows == Set(1L, 3L)) // identical survivors to the memory spec
  }

  test("latestWinsStream end to end over a parquet FILE source") {
    import spark.implicits._
    import graft.streaming.UpsertEvent

    val dir = java.nio.file.Files
      .createTempDirectory("graft_stream_upsert").toFile
    def writeBatch(rows: Seq[UpsertEvent]): Unit =
      rows.toDS().coalesce(1)
        .write.mode("append").parquet(dir.getAbsolutePath)

    writeBatch(Seq(
      UpsertEvent(1L, 0L, "a0", deleted = false),
      UpsertEvent(2L, 0L, "b0", deleted = false),
      UpsertEvent(3L, 0L, "c0", deleted = false)))
    val updates = spark.readStream
      .schema("key BIGINT, version BIGINT, payload STRING, deleted BOOLEAN")
      .parquet(dir.getAbsolutePath)
      .as[UpsertEvent]
    val query = StreamingAggs.latestWinsStream(updates)
      .writeStream
      .format("memory")
      .queryName("latest_wins_file_test")
      .outputMode(OutputMode.Update())
      .start()
    query.processAllAvailable()
    writeBatch(Seq(
      UpsertEvent(1L, 5L, "a5", deleted = false),
      UpsertEvent(3L, 1L, "c-del", deleted = true)))
    query.processAllAvailable()
    writeBatch(Seq(UpsertEvent(1L, 1L, "a1-late", deleted = false)))
    query.processAllAvailable()

    val rows = spark.table("latest_wins_file_test").collect()
      .map(r => (r.getAs[Long]("key"),
        (r.getAs[Long]("version"), r.getAs[String]("payload"),
          r.getAs[Boolean]("deleted"))))
    val current = rows.zipWithIndex.groupBy(_._1._1)
      .map { case (k, vs) => k -> vs.maxBy(_._2)._1._2 }
    query.stop()

    // identical resolution to the memory-source spec
    assert(current(1L) == ((5L, "a5", false)))
    assert(current(2L) == ((0L, "b0", false)))
    assert(current(3L) == ((1L, "c-del", true)))
  }

  test("impressionClickJoin end to end over parquet FILE sources — " +
    "the two-stream interval join on real read wiring") {
    import spark.implicits._

    val impDir = java.nio.file.Files
      .createTempDirectory("graft_stream_imps").toFile
    val clickDir = java.nio.file.Files
      .createTempDirectory("graft_stream_clicks").toFile
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    Seq((7L, t(0), 1000L), (8L, t(1), 1001L))
      .toDF("imp_user", "imp_ts", "imp_id").coalesce(1)
      .write.mode("append").parquet(impDir.getAbsolutePath)
    Seq(
      (7L, t(5), 2000L),   // 5 min after impression 1000 -> joins
      (8L, t(30), 2001L),  // 29 min after impression 1001 -> outside window
      (9L, t(6), 2002L))   // no impression for this user
      .toDF("click_user", "click_ts", "click_id").coalesce(1)
      .write.mode("append").parquet(clickDir.getAbsolutePath)

    val imps = spark.readStream
      .schema("imp_user BIGINT, imp_ts TIMESTAMP, imp_id BIGINT")
      .parquet(impDir.getAbsolutePath)
    val clicks = spark.readStream
      .schema("click_user BIGINT, click_ts TIMESTAMP, click_id BIGINT")
      .parquet(clickDir.getAbsolutePath)
    val query = StreamingAggs.impressionClickJoin(imps, clicks, "10 minutes")
      .writeStream
      .format("memory")
      .queryName("impression_click_file_test")
      .outputMode(OutputMode.Append())
      .start()
    query.processAllAvailable()

    val rows = spark.table("impression_click_file_test").collect()
      .map(r => (r.getAs[Long]("imp_id"), r.getAs[Long]("click_id"))).toSet
    query.stop()

    assert(rows == Set((1000L, 2000L))) // identical join to the memory spec
  }

  test("windowed drift monitoring end to end over a parquet FILE source") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Drift

    val baseline = (Seq.fill(4)(("s", 0L)) ++ Seq.fill(6)(("s", 1L)))
      .toDF("stratum", "bucket")
      .groupBy(col("stratum"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .cache()

    val dir = java.nio.file.Files
      .createTempDirectory("graft_stream_drift").toFile
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def writeBatch(rows: Seq[(Timestamp, String, Long)]): Unit =
      rows.toDF("ts", "stratum", "bucket").coalesce(1)
        .write.mode("append").parquet(dir.getAbsolutePath)

    writeBatch((1 to 6).map(_ => (t(1, 5), "s", 0L)) ++
      (1 to 4).map(_ => (t(1, 30), "s", 1L)))
    val events = spark.readStream
      .schema("ts TIMESTAMP, stratum STRING, bucket BIGINT")
      .parquet(dir.getAbsolutePath)
    val counts = events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("stratum"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("stratum"), col("bucket"), col("cnt"))
    val results =
      scala.collection.mutable.ArrayBuffer.empty[(String, Double, String)]
    val query = counts.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val closed = batch.cache()
        closed.select(col("window_start")).distinct()
          .collect().map(_.getTimestamp(0)).foreach { w =>
            val cur = closed.where(col("window_start") === w)
              .select(col("stratum"), col("bucket"), col("cnt"))
            Drift.psiFromCounts(baseline, cur, "stratum", "bucket", "cnt")
              .collect().foreach { r =>
                results += ((r.getAs[String]("stratum"),
                  r.getAs[Double]("psi"), r.getAs[String]("drift_level")))
              }
          }
        closed.unpersist()
        ()
      }
      .start()
    query.processAllAvailable()
    writeBatch(Seq((t(3, 0), "s", 0L))) // closes hour 1
    query.processAllAvailable()
    writeBatch(Seq((t(5, 0), "s", 0L))) // closes hour 3
    query.processAllAvailable()
    query.stop()

    // the same hand-computed hour-1 statistic as the memory spec
    assert(results.exists { case (st, p, lvl) =>
      st == "s" && math.abs(p - 0.162186) < 1e-6 && lvl == "moderate"
    }, s"hour-1 PSI missing from $results")
  }

  test("streaming incremental-crawl dedup: micro-batches probe the persisted " +
    "band index, then append to it — new-vs-new dups across batches found") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Dedup

    // the nightly dedup_incremental flow as a STREAM: each crawled
    // micro-batch probes the persisted LSH band index (new-vs-old
    // pairs only, the corpus is never re-paired), then appends its
    // own bands + docs — so batch N+1 dedups against batch N without
    // any retraining or re-index. Same contract as incrementalLsh:
    // ids are disjoint across base and every batch.
    val baseText = ("the quick brown fox jumps over the lazy dog and " +
      "runs far away home tonight while seven silent owls watch from " +
      "tall oak trees near the quiet river bank under pale moon light")
    val crawlText = ("deep in the winter valley a narrow frozen stream " +
      "curves past grey stone cottages where patient fishermen wait " +
      "beside small fires and children skate between wooden bridges " +
      "until evening bells call everyone home for warm bread")

    val root = java.nio.file.Files
      .createTempDirectory("graft_stream_incdedup").toFile
    val baseDir = new java.io.File(root, "base").getAbsolutePath
    val idxDir = new java.io.File(root, "index").getAbsolutePath
    val crawlDir = new java.io.File(root, "crawl").getAbsolutePath

    // persisted state: the existing corpus and its band index
    val base = Seq((1L, baseText),
      (2L, "completely different words about spark engines and scale"))
      .toDF("doc_id", "text")
    base.write.parquet(baseDir)
    Dedup.minhashBandIndex(base, "doc_id", "text",
      shingleN = 3, numHashes = 32, bandRows = 4).write.parquet(idxDir)

    def writeCrawl(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(crawlDir)

    val results =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    // batch 1 arrives before the stream starts (startup backfill):
    // doc 10 near-dups base doc 1; doc 11 is fresh content
    writeCrawl(Seq(
      (10L, baseText.replace("lazy", "sleepy")),
      (11L, crawlText)))
    val crawled = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .parquet(crawlDir)
    val query = crawled.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = batch.select(col("doc_id"), col("text")).cache()
        // PROBE first (collect is the action — it runs against the
        // index as persisted BEFORE this batch)...
        Dedup.incrementalLsh(
          delta.sparkSession.read.parquet(idxDir),
          delta.sparkSession.read.parquet(baseDir),
          delta, "doc_id", "text", minJaccard = 0.5)
          .collect().foreach { r =>
            results += ((r.getAs[Long]("new_id"), r.getAs[Long]("old_id"),
              r.getAs[Double]("jaccard")))
          }
        // ...then APPEND the batch's bands and docs so the NEXT batch
        // dedups against this one too
        Dedup.minhashBandIndex(delta, "doc_id", "text",
          shingleN = 3, numHashes = 32, bandRows = 4)
          .write.mode("append").parquet(idxDir)
        delta.write.mode("append").parquet(baseDir)
        delta.unpersist()
        ()
      }
      .start()
    query.processAllAvailable()
    assert(results.map(p => (p._1, p._2)).toSet == Set((10L, 1L)),
      s"batch-1 probe should pair 10 with base doc 1 only: $results")

    // batch 2: doc 20 near-dups BATCH-1's doc 11 — findable only if
    // batch 1's bands were appended to the persisted index
    results.clear()
    writeCrawl(Seq(
      (20L, crawlText.replace("frozen", "silver")),
      (21L, "entirely novel text with no neighbours in any batch")))
    query.processAllAvailable()
    query.stop()

    assert(results.map(p => (p._1, p._2)).toSet == Set((20L, 11L)),
      s"batch-2 probe should pair 20 with batch-1 doc 11 only: $results")
    assert(results.forall(_._3 >= 0.5))
  }

  test("streaming ANN ingest: micro-batches append to the persisted vector " +
    "store; queries surface new vectors through the FROZEN codebook") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.VectorSearch
    import graft.functions.VectorFns

    // the vs_ivf_append regime as a STREAM: tonight's vectors land in
    // micro-batches, each batch is appended to the persisted store,
    // and retrieval keeps using the codebook trained on the BASE
    // snapshot (no retrain between batches — staleness is the
    // documented recall trade until the periodic re-train).
    val root = java.nio.file.Files
      .createTempDirectory("graft_stream_annappend").toFile
    val storeDir = new java.io.File(root, "store").getAbsolutePath
    val centDir = new java.io.File(root, "cents").getAbsolutePath
    val inDir = new java.io.File(root, "arrivals").getAbsolutePath

    // base snapshot: two clear orthants; codebook = per-sign-cell means
    val base = Seq(
      (100L, Array(1.0f, 0.1f, 0.0f, 0.0f)),
      (101L, Array(0.9f, 0.2f, 0.1f, 0.0f)),
      (102L, Array(-1.0f, -0.1f, 0.0f, 0.0f)),
      (103L, Array(-0.9f, -0.2f, 0.1f, 0.0f)))
      .toDF("vec_id", "embedding")
    base.write.parquet(storeDir)
    VectorSearch.centroidArrays(
      base.withColumn("cell",
        VectorFns.signCode(col("embedding"), 2).cast("int")),
      "cell", "embedding").write.parquet(centDir)

    def writeArrivals(rows: Seq[(Long, Array[Float])]): Unit =
      rows.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("append").parquet(inDir)

    writeArrivals(Seq((1L, Array(0.95f, 0.15f, 0.05f, 0.0f))))
    val arrivals = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .parquet(inDir)
    val query = arrivals.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select(col("vec_id"), col("embedding"))
          .write.mode("append").parquet(storeDir)
        ()
      }
      .start()
    query.processAllAvailable()
    // the just-ingested-then-queried path: probe with batch-1's vector
    // against the frozen codebook over the grown store
    val q1 = Seq(Tuple1(Array(0.95f, 0.15f, 0.05f, 0.0f))).toDF("qe")
    val top1 = VectorSearch.annIvf(
      spark.read.parquet(storeDir), q1, spark.read.parquet(centDir),
      "vec_id", "embedding", "qe", "cell", nprobe = 1, k = 3)
      .collect()
    assert(top1.head.getAs[Long]("vec_id") == 1L &&
      top1.head.getAs[Double]("cos_sim") == 1.0,
      s"ingested vector must surface itself top-1: ${top1.toSeq}")
    // base content remains retrievable through the same frozen cells
    assert(top1.map(_.getAs[Long]("vec_id")).toSet.contains(100L))

    // batch 2 in the OPPOSITE orthant: still assigned + retrievable
    // under the stale codebook
    writeArrivals(Seq((2L, Array(-0.95f, -0.15f, 0.05f, 0.0f))))
    query.processAllAvailable()
    query.stop()
    val q2 = Seq(Tuple1(Array(-0.95f, -0.15f, 0.05f, 0.0f))).toDF("qe")
    val top2 = VectorSearch.annIvf(
      spark.read.parquet(storeDir), q2, spark.read.parquet(centDir),
      "vec_id", "embedding", "qe", "cell", nprobe = 1, k = 3)
      .collect()
    assert(top2.head.getAs[Long]("vec_id") == 2L &&
      top2.head.getAs[Double]("cos_sim") == 1.0,
      s"batch-2 vector must surface itself top-1: ${top2.toSeq}")
  }

  test("impressionClickJoin pairs clicks with in-window impressions only") {
    val sql = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sql

    val imps = MemoryStream[(Long, Timestamp, Long)]
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val joined = StreamingAggs.impressionClickJoin(
      imps.toDF().toDF("imp_user", "imp_ts", "imp_id"),
      clicks.toDF().toDF("click_user", "click_ts", "click_id"),
      "10 minutes")
    val query = joined.writeStream
      .format("memory")
      .queryName("impression_click_test")
      .outputMode(OutputMode.Append())
      .start()

    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    imps.addData((7L, t(0), 1000L), (8L, t(1), 1001L))
    clicks.addData(
      (7L, t(5), 2000L),   // 5 min after impression 1000 -> joins
      (8L, t(30), 2001L),  // 29 min after impression 1001 -> outside window
      (9L, t(6), 2002L))   // no impression for this user
    query.processAllAvailable()

    val rows = spark.table("impression_click_test").collect()
      .map(r => (r.getAs[Long]("imp_id"), r.getAs[Long]("click_id"))).toSet
    query.stop()

    assert(rows == Set((1000L, 2000L)))
  }

  test("windowedDau e2e on the sf0.1 events FILE source: every emitted " +
    "window's sketch sits inside the batch twin's pinned envelope and " +
    "its event count is exact") {
    import org.apache.spark.sql.functions._
    // replay the real sf0.1 events through the parquet file source,
    // one day-file per micro-batch (the watermark advances batch by
    // batch, windows close by event time as in production) — the r13
    // stretch left the DAU envelope pinned batch-side only
    // (EventsSpec); this closes it end to end
    val ev = Tables.events(spark, "/root/testdata/sf0.1")
      .select(
        timestamp_micros((col("ts") / 1000L).cast("long")).as("ts"),
        col("user_id"))
      .withColumn("day", to_date(col("ts")))
      .cache()
    try {
      val exact = ev.groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("dau_x"),
          count(lit(1)).as("n_x"))
        .collect()
        .map(r => r.getDate(0).toString ->
          (r.getLong(1), r.getLong(2))).toMap
      val days = exact.keys.toSeq.sorted
      val src = java.nio.file.Files
        .createTempDirectory("graft_dau_stream").toFile.getAbsolutePath
      days.zipWithIndex.foreach { case (d, i) =>
        ev.where(col("day") === lit(d)).drop("day").coalesce(1)
          .write.mode("append").parquet(f"$src/d$i%03d.parquet")
      }
      val stream = spark.readStream
        .schema("ts TIMESTAMP, user_id BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*")
      val query = StreamingAggs.windowedDau(stream, "1 day", "1 hour")
        .writeStream.format("memory").queryName("dau_e2e_test")
        .outputMode(OutputMode.Append()).start()
      query.processAllAvailable()
      val emitted = spark.table("dau_e2e_test").collect()
        .map(r => r.getAs[Timestamp]("window_start").toString.take(10) ->
          (r.getAs[Long]("dau"), r.getAs[Long]("n_events"))).toMap
      query.stop()
      // append mode: a window emits once the watermark passes its
      // end, so every day but the still-open last one must be out
      assert(emitted.keySet == days.dropRight(1).toSet,
        s"emitted ${emitted.keySet.toSeq.sorted} vs days $days")
      emitted.foreach { case (d, (dauA, nA)) =>
        val (dauX, nX) = exact(d)
        // the SAME envelope EventsSpec pins for the batch twin:
        // 3 sigma at rsd=0.02 (6%), 3-count floor for tiny days
        assert(math.abs(dauA - dauX) <= math.max(dauX * 0.06, 3.0),
          s"day $d: sketch dau $dauA vs exact $dauX out of envelope")
        // counts are exact in a streaming agg — any slip is data loss
        // through the harness, not sketch error
        assert(nA == nX, s"day $d: streamed $nA events vs $nX")
      }
    } finally ev.unpersist(): Unit
  }

  test("transitionStream chains per-user events across batches, " +
    "matches the batch transitionMatrix, and evicts idle users") {
    val sql = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sql
    import graft.streaming.TypedEvent

    val input = MemoryStream[TypedEvent]
    val pairs = StreamingAggs.transitionStream(input.toDS(),
      idleSecs = 3600L)
    val query = pairs.writeStream
      .format("memory")
      .queryName("transition_test")
      .outputMode(OutputMode.Append())
      .start()
    def ev(uid: Long, sec: Long, t: String, id: Long) =
      TypedEvent(uid, new Timestamp(sec * 1000L), t, id)
    def counts() = spark.table("transition_test").collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .view.mapValues(_.length.toLong).toMap

    // b1: user 1 view→click inline; user 2 opens with view. User 1's
    // first two events share second 100 — the same-second chain must
    // resolve by event_id exactly like the batch twin's lag window
    // (added out of id order in the batch to prove the sort is real)
    input.addData(ev(1L, 100L, "click", 2L), ev(1L, 100L, "view", 1L),
      ev(2L, 105L, "view", 3L))
    query.processAllAvailable()
    // b2: cross-batch chaining — user 1's click chains to view,
    // user 2's view chains to buy
    input.addData(ev(1L, 200L, "view", 4L), ev(2L, 210L, "buy", 5L))
    query.processAllAvailable()

    // parity checkpoint: streamed pair counts == the batch twin on
    // the identical event set (before any eviction breaks a chain)
    val streamed = counts()
    val batchEv = Seq(
      (1L, 1L, 100L, "view"), (2L, 1L, 100L, "click"),
      (3L, 2L, 105L, "view"), (4L, 1L, 200L, "view"),
      (5L, 2L, 210L, "buy")
    ).map { case (id, uid, sec, t) => (id, uid, sec * 1000000000L, t) }
      .toDF("event_id", "user_id", "ts", "event_type")
    val batch = graft.operators.Events.transitionMatrix(batchEv)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("n_trans")).toMap
    assert(streamed == batch,
      s"streamed $streamed vs batch twin $batch")

    // b3: user 2 advances the watermark far past user 1's idle
    // timeout (200 + 3600); user 2 itself has data so it chains on
    input.addData(ev(2L, 10000L, "view", 6L))
    query.processAllAvailable()
    // b4: user 2 again — user 1 has NO data this batch, so its
    // expired timeout fires and the state is evicted silently
    input.addData(ev(2L, 10010L, "click", 7L))
    query.processAllAvailable()
    // b5: user 1 returns AFTER eviction — a fresh chain, no pair
    // spanning the idle gap
    input.addData(ev(1L, 10300L, "search", 8L))
    query.processAllAvailable()
    val fin = counts()
    query.stop()
    assert(fin.getOrElse(("buy", "view"), 0L) == 1L) // u2 b3 chain
    assert(fin.getOrElse(("view", "click"), 0L) == 2L) // u1 b1 + u2 b4
    // the idle gap must NOT produce view→search from user 1
    assert(!fin.contains(("view", "search")),
      s"evicted user's chain must restart, got $fin")
    assert(fin.values.sum == 5L, s"unexpected pair total: $fin")
  }

  test("exactly-once upsert sink: merge-on-write partition overwrite " +
    "is replay-idempotent, straggler-safe, and leaves untouched " +
    "buckets' files alone") {
    val sql = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sql
    import graft.streaming.{StreamingSink, UpsertEvent}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sink").toFile.getAbsolutePath
    val Buckets = 8

    val input = MemoryStream[UpsertEvent]
    val query = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamingSink.upsertBatch(batch, dir, Seq("key"), "version",
          Buckets)
      }.start()
    // b1: keys 1..3 open at v0
    input.addData(UpsertEvent(1L, 0L, "a0", false),
      UpsertEvent(2L, 0L, "b0", false), UpsertEvent(3L, 0L, "c0", false))
    query.processAllAvailable()
    // b2: key 1 upserts, key 2 tombstones, key 4 arrives
    val b2 = Seq(UpsertEvent(1L, 1L, "a1", false),
      UpsertEvent(2L, 1L, "b0", true), UpsertEvent(4L, 0L, "d0", false))
    input.addData(b2: _*)
    query.processAllAvailable()
    query.stop()

    def view() = StreamingSink.readCurrent(spark, dir, "deleted")
      .select("key", "version", "payload").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val expected = Map(1L -> ((1L, "a1")), 3L -> ((0L, "c0")),
      4L -> ((0L, "d0")))
    assert(view() == expected)

    // dynamic overwrite names part files uniquely, so a rewritten
    // partition ALWAYS changes its file-name set — snapshot per
    // bucket dir, then replay
    def filesByBucket(): Map[String, Set[String]] = {
      val base = new java.io.File(dir)
      base.listFiles().filter(f => f.isDirectory &&
        f.getName.startsWith("bkt=")).map { d =>
        d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet
      }.toMap
    }
    val before = filesByBucket()
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val touched = b2.toDF()
      .select(pmod(xxhash64(col("key")), lit(Buckets.toLong)))
      .distinct().collect().map(r => s"bkt=${r.getLong(0)}").toSet

    // REPLAY b2 (the at-least-once crash-recovery path): the store
    // must not change — that idempotence IS the exactly-once claim
    StreamingSink.upsertBatch(b2.toDF(), dir, Seq("key"), "version",
      Buckets)
    assert(view() == expected, "replay must be a no-op on the view")
    val after = filesByBucket()
    before.keySet.filterNot(touched).foreach { bkt =>
      assert(after(bkt) == before(bkt),
        s"untouched $bkt was rewritten: ${before(bkt)} -> ${after(bkt)}")
    }

    // STRAGGLER: key 2's v0 re-insert arrives after its v1 tombstone
    // was absorbed — the persisted tombstone must win (no
    // resurrection), the contract consuming tombstones cannot give
    StreamingSink.upsertBatch(
      Seq(UpsertEvent(2L, 0L, "b0-late", false)).toDF(),
      dir, Seq("key"), "version", Buckets)
    assert(view() == expected,
      "a lower-versioned straggler must not resurrect a deleted key")
    // and an empty replay touches nothing
    StreamingSink.upsertBatch(
      Seq.empty[UpsertEvent].toDF(), dir, Seq("key"), "version", Buckets)
    assert(view() == expected)
  }

  test("failure injection: a crash BETWEEN the sink write and the " +
    "checkpoint commit redelivers the batch, and the replayed merge " +
    "converges to the no-failure result") {
    import spark.implicits._
    import graft.streaming.{StreamingSink, UpsertEvent}
    val base = java.nio.file.Files
      .createTempDirectory("graft_sink_crash").toFile.getAbsolutePath
    val (src, store, ckpt) = (s"$base/src", s"$base/store", s"$base/ckpt")
    new java.io.File(src).mkdirs()
    val Buckets = 8
    def writeBatch(rows: Seq[UpsertEvent]): Unit =
      rows.toDF().coalesce(1).write.mode("append").parquet(src)
    // the injection arms once: the SECOND micro-batch crashes AFTER
    // upsertBatch returns (sink write durable) but BEFORE foreachBatch
    // returns (checkpoint offset never committed) — the exact window
    // the exactly-once claim has to survive
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery() = spark.readStream
      .schema("key LONG, version LONG, payload STRING, deleted BOOLEAN")
      .parquet(src)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamingSink.upsertBatch(batch, store, Seq("key"), "version",
          Buckets)
        if (id == 1L && armed.getAndSet(false))
          throw new RuntimeException("injected crash before ckpt commit")
      }.start()
    def view() = StreamingSink.readCurrent(spark, store, "deleted")
      .select("key", "version", "payload").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap

    writeBatch(Seq(UpsertEvent(1L, 0L, "a0", false),
      UpsertEvent(2L, 0L, "b0", false), UpsertEvent(3L, 0L, "c0", false)))
    val q1 = startQuery()
    q1.processAllAvailable()
    writeBatch(Seq(UpsertEvent(1L, 1L, "a1", false),
      UpsertEvent(2L, 1L, "b0", true), UpsertEvent(4L, 0L, "d0", false)))
    try q1.processAllAvailable() catch { case _: Throwable => () }
    try q1.awaitTermination() catch { case _: Throwable => () }
    assert(!q1.isActive, "injected crash must terminate the query")
    assert(q1.exception.exists(_.toString.contains("injected crash")),
      s"unexpected termination cause: ${q1.exception}")
    val expected = Map(1L -> ((1L, "a1")), 3L -> ((0L, "c0")),
      4L -> ((0L, "d0")))
    // the sink write preceded the crash: the store ALREADY holds the
    // batch — so the restart below replays against an absorbed batch,
    // the hard half of the idempotence claim
    assert(view() == expected, "sink write must precede the crash")

    // restart from the same checkpoint: batch 1's offset was never
    // committed, so Structured Streaming REDELIVERS it; the re-merge
    // must be a no-op and the query then processes new data normally
    val q2 = startQuery()
    q2.processAllAvailable()
    assert(view() == expected, "replayed batch must converge")
    writeBatch(Seq(UpsertEvent(3L, 1L, "c1", false)))
    q2.processAllAvailable()
    q2.stop()
    assert(view() == expected + (3L -> ((1L, "c1"))),
      "post-recovery batches must keep flowing")
  }

  test("checkpointed restart: a stopped windowed query resumes from " +
    "its offsets and state — open-window counts survive, closed " +
    "windows never re-emit") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_ckpt_restart").toFile.getAbsolutePath
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    new java.io.File(src).mkdirs()
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def writeBatch(rows: Seq[(Timestamp, String, Double)]): Unit =
      rows.toDF("ts", "event_type", "value").coalesce(1)
        .write.mode("append").parquet(src)
    // the same query definition both runs — a restart is a NEW query
    // object recovering offsets + state store from the checkpoint
    def startQuery() = StreamingAggs.windowedAgg(
      spark.readStream
        .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
        .parquet(src),
      "1 hour", "10 minutes")
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .start()

    writeBatch(Seq((t(1, 5), "click", 1.0), (t(1, 30), "click", 2.0),
      (t(1, 45), "view", 3.0)))
    val q1 = startQuery()
    q1.processAllAvailable()
    // 03:00 advances the watermark past 02:00 → the 01:00 windows
    // CLOSE and land in the sink; the 03:00 window opens (state only)
    writeBatch(Seq((t(3, 0), "click", 1.0)))
    q1.processAllAvailable()
    q1.stop() // crash/deploy point: open 03:00 state is checkpointed

    val q2 = startQuery() // fresh query, same checkpoint
    // 05:00 closes the 03:00 window — whose COUNT accumulated before
    // the stop: only the recovered state store can emit it correctly
    writeBatch(Seq((t(5, 0), "click", 1.0)))
    q2.processAllAvailable()
    q2.stop()

    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Timestamp]("window_start").toString,
        r.getAs[String]("event_type")) ->
        ((r.getAs[Long]("cnt"), r.getAs[Double]("sum_value"))))
    // exactly-once across the restart: each closed window appears
    // ONCE (a re-emit would surface as a duplicate key here)
    assert(rows.length == rows.toMap.size, s"duplicate emits: ${rows.toSeq}")
    val m = rows.toMap
    assert(m(("2024-01-01 01:00:00.0", "click")) == ((2L, 3.0)))
    assert(m(("2024-01-01 01:00:00.0", "view")) == ((1L, 3.0)))
    assert(m(("2024-01-01 03:00:00.0", "click")) == ((1L, 1.0)),
      "the open window's pre-restart state must survive recovery")
    assert(m.size == 3, s"unexpected windows: $m") // 05:00 still open
  }
}
