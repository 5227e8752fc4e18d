package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Corpus

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "spark shuffles data", "en", "src0", 19L),
    (2L, "fenster funktionen", "de", "src0", 18L),
    (3L, "joins are fast", "en", "src1", 14L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("jsonl round-trip with declared schema") {
    val dir = Files.createTempDirectory("graft_jsonl").toString
    docs.write.mode("overwrite").json(dir)
    val back = Corpus.readJsonl(spark, dir, Corpus.documentsSchema)
    assert(back.count() == 3)
    assert(back.schema == Corpus.documentsSchema)
    assert(back.where(col("lang") === "de").count() == 1)
  }

  test("partitioned write prunes partitions in the scan") {
    val dir = Files.createTempDirectory("graft_part").toString + "/docs"
    Corpus.writePartitioned(docs, dir, Seq("lang"))
    val filtered = spark.read.parquet(dir).where(col("lang") === "en")
    assert(filtered.count() == 2)
    // partition pruning must reach the file scan (inputFiles lists the
    // relation pre-pruning, so the plan's PartitionFilters is the
    // authoritative signal)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"))
  }

  test("mergeLatest: upsert wins, tombstone removes, late re-insert revives") {
    val log = Seq(
      // key 1: base then upsert -> v1 payload wins
      (1L, 0L, "base", 10L, false),
      (1L, 1L, "delta", 110L, false),
      // key 2: base only -> survives at v0
      (2L, 0L, "base", 20L, false),
      // key 3: base then delete -> gone
      (3L, 0L, "base", 30L, false),
      (3L, 1L, "delta", 30L, true),
      // key 4: base, delete, then re-insert at v2 -> revived
      (4L, 0L, "base", 40L, false),
      (4L, 1L, "delta", 40L, true),
      (4L, 2L, "delta", 240L, false)
    ).toDF("doc_id", "version", "src", "n_chars", "deleted")
    val out = Corpus.mergeLatest(log, Seq("doc_id"), "version", Some("deleted"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(out == Map(1L -> ((1L, 110L)), 2L -> ((0L, 20L)), 4L -> ((2L, 240L))))
    // and the plan is a hash aggregate, not a window sort over the log
    val plan = Corpus.mergeLatest(log, Seq("doc_id"), "version", Some("deleted"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"latest-wins must not window-sort:\n$plan")
  }

  test("compactLog folds the log to sized files; re-merge with later deltas " +
    "is equivalent to merging the original log") {
    val dir = Files.createTempDirectory("graft_compact").toFile.getAbsolutePath
    val log = Seq(
      (1L, 0L, "base", 10L, false), (1L, 1L, "delta", 110L, false),
      (2L, 0L, "base", 20L, false),
      (3L, 0L, "base", 30L, false), (3L, 1L, "delta", 30L, true),
      (4L, 0L, "base", 40L, false), (4L, 1L, "delta", 40L, true),
      (4L, 2L, "delta", 240L, false),
      (5L, 0L, "base", 50L, false), (6L, 0L, "base", 60L, false)
    ).toDF("doc_id", "version", "src", "n_chars", "deleted")

    val n = Corpus.compactLog(log, Seq("doc_id"), "version",
      Some("deleted"), dir, targetRowsPerFile = 2L)
    assert(n == 5) // keys 1,2,4,5,6 (3 consumed by its tombstone)
    val base = spark.read.parquet(dir)
    assert(base.count() == 5)
    // ceil(5/2) = 3 evenly-sized files
    val files = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    assert(files == 3, s"expected 3 data files, got $files")

    // later deltas over the compacted base resolve exactly like the
    // original log would: key 1 upserted at v2, key 5 tombstoned
    val newDeltas = Seq(
      (1L, 2L, "delta", 210L, false),
      (5L, 1L, "delta", 50L, true)
    ).toDF("doc_id", "version", "src", "n_chars", "deleted")
    def resolve(l: org.apache.spark.sql.DataFrame) =
      Corpus.mergeLatest(l, Seq("doc_id"), "version", Some("deleted"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3)))
        .toMap
    val fromCompacted = resolve(base.unionByName(newDeltas))
    val fromOriginal = resolve(log.unionByName(newDeltas))
    assert(fromCompacted == fromOriginal)
    assert(fromCompacted == Map(1L -> ((2L, 210L)), 2L -> ((0L, 20L)),
      4L -> ((2L, 240L)), 6L -> ((0L, 60L))))
  }

  test("snapshotDiff classifies added/removed/changed/unchanged with " +
    "null-safe payload comparison") {
    val oldS = Seq(
      (1L, Some(10L), "a"), (2L, Some(20L), "b"),
      (3L, None, "c"), (4L, Some(40L), "d")
    ).toDF("doc_id", "n_chars", "source")
    val newS = Seq(
      (1L, Some(10L), "a"),   // unchanged
      (2L, Some(25L), "b"),   // changed (payload)
      (3L, None, "c"),        // unchanged — null <=> null must not read as changed
      (5L, Some(50L), "e")    // added; 4 removed
    ).toDF("doc_id", "n_chars", "source")
    val out = Corpus.snapshotDiff(oldS, newS,
      Seq("doc_id"), Seq("n_chars", "source"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "unchanged", 4L -> "removed", 5L -> "added"))
    // both sides' payloads ride along (null on the absent side)
    val row5 = Corpus.snapshotDiff(oldS, newS,
      Seq("doc_id"), Seq("n_chars", "source"))
      .where(col("doc_id") === 5).head()
    assert(row5.isNullAt(row5.fieldIndex("old_n_chars")) &&
      row5.getAs[Long]("new_n_chars") == 50L)
    intercept[IllegalArgumentException] {
      Corpus.snapshotDiff(oldS, newS, Seq(), Seq("n_chars"))
    }
    intercept[IllegalArgumentException] { // reserved output name
      Corpus.snapshotDiff(oldS.withColumnRenamed("source", "status"),
        newS.withColumnRenamed("source", "status"),
        Seq("doc_id"), Seq("n_chars", "status"))
    }
    intercept[IllegalArgumentException] { // old_<payload> is claimed too
      Corpus.snapshotDiff(
        oldS.withColumnRenamed("source", "old_n_chars"),
        newS.withColumnRenamed("source", "old_n_chars"),
        Seq("doc_id"), Seq("n_chars", "old_n_chars"))
    }
  }

  test("compactLog under out-of-order arrival: a straggler delta older " +
    "than the compaction point stays equivalent for live keys and " +
    "diverges for a consumed tombstone exactly as the watermark " +
    "contract documents") {
    // the concurrent-append interleaving: a delta batch is IN FLIGHT
    // (already assigned versions BELOW the compaction point) while a
    // maintenance job compacts the log it hasn't reached yet
    val dir = Files.createTempDirectory("graft_compact_oo")
      .toFile.getAbsolutePath
    val log = Seq(
      (1L, 0L, "base", 10L, false), (1L, 2L, "delta", 210L, false),
      (2L, 0L, "base", 20L, false), (2L, 2L, "delta", 20L, true),
      (3L, 1L, "delta", 130L, false)
    ).toDF("doc_id", "version", "src", "n_chars", "deleted")
    Corpus.compactLog(log, Seq("doc_id"), "version", Some("deleted"),
      dir, targetRowsPerFile = 10L)
    val base = spark.read.parquet(dir)
    val stragglers = Seq(
      (1L, 1L, "late", 110L, false), // stale update, live key
      (3L, 0L, "late", 30L, false),  // stale base row, live key
      (2L, 1L, "late", 120L, false)  // stale update, CONSUMED tombstone
    ).toDF("doc_id", "version", "src", "n_chars", "deleted")
    def resolve(l: org.apache.spark.sql.DataFrame) =
      Corpus.mergeLatest(l, Seq("doc_id"), "version", Some("deleted"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3)))
        .toMap
    val fromCompacted = resolve(base.unionByName(stragglers))
    val fromOriginal = resolve(log.unionByName(stragglers))
    // LIVE keys: compacted rows kept their versions, so latest-wins
    // still dominates the stale stragglers — bit-identical resolution
    assert(fromCompacted.view.filterKeys(Set(1L, 3L)).toMap ==
      fromOriginal.view.filterKeys(Set(1L, 3L)).toMap)
    assert(fromCompacted(1L) == ((2L, 210L)) &&
      fromCompacted(3L) == ((1L, 130L)))
    // CONSUMED tombstone: the original log still holds the v2
    // tombstone, so key 2 stays dead; the compacted base consumed it,
    // so the v1 straggler RESURRECTS the key — the precise divergence
    // the scaladoc's straggler-watermark caveat documents. The
    // resolution is operational, not code: compaction must not run
    // past the in-flight writers' version watermark (hold tombstones
    // newer than min in-flight version out of the fold).
    assert(!fromOriginal.contains(2L), fromOriginal.toString)
    assert(fromCompacted.get(2L).contains((1L, 120L)), fromCompacted.toString)
  }

  test("compactLog compacts a log IN PLACE (read from and write to the same dir)") {
    val dir = Files.createTempDirectory("graft_compact_ip").toFile.getAbsolutePath
    Seq(
      (1L, 0L, "base", 10L, false), (1L, 1L, "delta", 110L, false),
      (2L, 0L, "base", 20L, false), (2L, 1L, "delta", 20L, true)
    ).toDF("doc_id", "version", "src", "n_chars", "deleted")
      .write.mode("overwrite").parquet(dir) // temp dir pre-exists
    // the natural maintenance call: fold dir back into dir
    val n = Corpus.compactLog(spark.read.parquet(dir), Seq("doc_id"),
      "version", Some("deleted"), dir, targetRowsPerFile = 10L)
    assert(n == 1)
    val out = spark.read.parquet(dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_chars"))
    assert(out.toSeq == Seq(1L -> 110L))
  }

  test("compactLog rejects a non-positive file-size target") {
    val log = Seq((1L, 0L, "b", 1L, false))
      .toDF("doc_id", "version", "src", "n_chars", "deleted")
    intercept[IllegalArgumentException] {
      Corpus.compactLog(log, Seq("doc_id"), "version", Some("deleted"),
        "/tmp/never_written", 0L)
    }
  }

  test("mergeLatest matches a sequential reference fold on randomized logs") {
    val rnd = new scala.util.Random(42) // fixed seed: reproducible failures
    for (_ <- 1 to 5) {
      val log = rnd.shuffle(
        (for (k <- 0L until 20L; v <- 0L until 10L) yield (k, v))
          .filter(_ => rnd.nextDouble() < 0.4))
        .map { case (k, v) =>
          (k, v, s"p$k-$v", rnd.nextDouble() < 0.3)
        }
      if (log.nonEmpty) {
        val expected = log.groupBy(_._1).flatMap { case (k, rows) =>
          val best = rows.maxBy(_._2) // versions unique per key
          if (best._4) None else Some(k -> ((best._2, best._3)))
        }
        val got = Corpus.mergeLatest(
          log.toDF("doc_id", "version", "payload", "deleted"),
          Seq("doc_id"), "version", Some("deleted"))
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
          .toMap
        assert(got == expected)
      }
    }
  }

  test("overwritePartitions rewrites only the partitions present in the delta") {
    val dir = Files.createTempDirectory("graft_dynpart").toString + "/docs"
    Corpus.writePartitioned(docs, dir, Seq("source"))
    def filesUnder(part: String): Set[String] = {
      val d = new java.io.File(s"$dir/source=$part")
      d.listFiles.filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName + ":" + f.lastModified).toSet
    }
    val src1Before = filesUnder("src1")
    // delta touches ONLY source=src0 (one replacement row)
    val delta = Seq((9L, "replacement doc", "en", "src0", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Corpus.overwritePartitions(delta, dir, Seq("source"))
    // src1's files are byte-for-byte untouched (same names + mtimes)...
    assert(filesUnder("src1") == src1Before)
    // ...and the merged read shows src0 replaced, src1 intact
    val back = spark.read.parquet(dir)
    assert(back.where(col("source") === "src0").select("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(back.where(col("source") === "src1").count() == 1)
  }

  test("bucketed tables join without an exchange on the bucket key") {
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rmrf)
      p.delete(): Unit
    }
    Seq("graft_docs_bucketed", "graft_meta_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a crashed prior run can leave the managed location behind
      rmrf(new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t))
    }
    Corpus.writeBucketed(docs, "graft_docs_bucketed", "doc_id", 4)
    Corpus.writeBucketed(
      docs.select(col("doc_id"), col("source")), "graft_meta_bucketed", "doc_id", 4)
    val joined = spark.table("graft_docs_bucketed")
      .join(spark.table("graft_meta_bucketed"), Seq("doc_id"))
    assert(joined.count() == 3)
    val plan = joined.queryExecution.executedPlan.toString
    // co-located bucketed join: no shuffle exchange on either side
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"))
  }
}
