package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingAggs

/** One keyed, versioned update row for the upsert-sink cases. */
case class SinkUpdate(
    key: Long, version: Long, payload: String, deleted: Boolean)

class StreamingSpec extends SparkSpec {

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

  test("exactly-once upsert sink: merge-on-write partition overwrite " +
    "is replay-idempotent, straggler-safe, and leaves untouched " +
    "buckets' files alone") {
    val sql = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sql
    import graft.streaming.StreamingSink
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sink").toFile.getAbsolutePath
    val Buckets = 8

    val input = MemoryStream[SinkUpdate]
    val query = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamingSink.upsertBatch(batch, dir, Seq("key"), "version",
          Buckets)
      }.start()
    // b1: keys 1..3 open at v0
    input.addData(SinkUpdate(1L, 0L, "a0", false),
      SinkUpdate(2L, 0L, "b0", false), SinkUpdate(3L, 0L, "c0", false))
    query.processAllAvailable()
    // b2: key 1 upserts, key 2 tombstones, key 4 arrives
    val b2 = Seq(SinkUpdate(1L, 1L, "a1", false),
      SinkUpdate(2L, 1L, "b0", true), SinkUpdate(4L, 0L, "d0", false))
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
      Seq(SinkUpdate(2L, 0L, "b0-late", false)).toDF(),
      dir, Seq("key"), "version", Buckets)
    assert(view() == expected,
      "a lower-versioned straggler must not resurrect a deleted key")
    // and an empty replay touches nothing
    StreamingSink.upsertBatch(
      Seq.empty[SinkUpdate].toDF(), dir, Seq("key"), "version", Buckets)
    assert(view() == expected)
  }

  test("failure injection: a crash BETWEEN the sink write and the " +
    "checkpoint commit redelivers the batch, and the replayed merge " +
    "converges to the no-failure result") {
    import spark.implicits._
    import graft.streaming.StreamingSink
    val base = java.nio.file.Files
      .createTempDirectory("graft_sink_crash").toFile.getAbsolutePath
    val (src, store, ckpt) = (s"$base/src", s"$base/store", s"$base/ckpt")
    new java.io.File(src).mkdirs()
    val Buckets = 8
    def writeBatch(rows: Seq[SinkUpdate]): Unit =
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

    writeBatch(Seq(SinkUpdate(1L, 0L, "a0", false),
      SinkUpdate(2L, 0L, "b0", false), SinkUpdate(3L, 0L, "c0", false)))
    val q1 = startQuery()
    q1.processAllAvailable()
    writeBatch(Seq(SinkUpdate(1L, 1L, "a1", false),
      SinkUpdate(2L, 1L, "b0", true), SinkUpdate(4L, 0L, "d0", false)))
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
    writeBatch(Seq(SinkUpdate(3L, 1L, "c1", false)))
    q2.processAllAvailable()
    q2.stop()
    assert(view() == expected + (3L -> ((1L, "c1"))),
      "post-recovery batches must keep flowing")
  }

  test("checkpointed restart: open sessions survive, closed never re-emit") {
    // a stopped sessionizeStream query resumes from its offsets and
    // state store: a session open at the stop keeps accumulating after
    // the restart, and a session closed before it is emitted once
    import spark.implicits._
    import graft.streaming.SessionEvent
    val base = java.nio.file.Files
      .createTempDirectory("graft_ckpt_restart").toFile.getAbsolutePath
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    new java.io.File(src).mkdirs()
    def writeBatch(rows: (Long, Long, Double)*): Unit =
      rows.map { case (u, sec, v) =>
        SessionEvent(u, new Timestamp(sec * 1000L), v) }
        .toDS().coalesce(1).write.mode("append").parquet(src)
    // the same query definition both runs — a restart is a NEW query
    // object recovering offsets + state store from the checkpoint
    def startQuery() = StreamingAggs.sessionizeStream(
      spark.readStream
        .schema("user_id BIGINT, ts TIMESTAMP, value DOUBLE")
        .parquet(src).as[SessionEvent],
      gapSecs = 1800L)
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .start()

    writeBatch((1L, 3500L, 1.0), (1L, 3510L, 2.0), (2L, 105L, 4.0))
    val q1 = startQuery()
    q1.processAllAvailable()
    // user 2 returns after the gap: its first session closes inline
    // and lands in the sink; user 1's session stays open (state only)
    writeBatch((2L, 4000L, 8.0))
    q1.processAllAvailable()
    q1.stop() // crash/deploy point: both open sessions are checkpointed

    val q2 = startQuery() // fresh query, same checkpoint
    // user 1's next event is inside the gap: only the recovered state
    // can extend the pre-restart session instead of opening a new one
    writeBatch((1L, 4500L, 5.0))
    q2.processAllAvailable()
    // a far-ahead sentinel advances the watermark past every timeout;
    // one more batch lets the timeouts fire against it
    writeBatch((3L, 20000L, 0.0))
    q2.processAllAvailable()
    writeBatch((3L, 20010L, 0.0))
    q2.processAllAvailable()
    q2.stop()

    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start")) ->
        ((r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"),
          r.getAs[Long]("duration_secs"))))
    // exactly-once across the restart: each closed session appears
    // ONCE (a re-emit would surface as a duplicate key here)
    assert(rows.length == rows.toMap.size, s"duplicate emits: ${rows.toSeq}")
    assert(rows.toMap == Map(
      (2L, 105L) -> ((1L, 4.0, 0L)),     // closed before the stop
      (2L, 4000L) -> ((1L, 8.0, 0L)),    // open at the stop, timed out
      (1L, 3500L) -> ((3L, 8.0, 1000L))), // extended across the restart
      s"unexpected sessions: ${rows.toSeq}")
  }
}
