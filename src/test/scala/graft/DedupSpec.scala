package graft

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // long texts so a one-word edit keeps jaccard high enough (~0.93)
  // for the 8-band x 4-row LSH to collide with near certainty
  private val base = ("the quick brown fox jumps over the lazy dog and " +
    "runs far away home tonight while seven silent owls watch from tall " +
    "oak trees near the quiet river bank under pale moon light and cold wind")
  private val nearDup = base.replace("lazy", "sleepy")
  private val distinct = "completely different words appear in this sentence about spark engines and scale"

  private def docs = Seq(
    (1L, base), (2L, base), (3L, nearDup), (4L, distinct)
  ).toDF("doc_id", "text")

  test("exact finds identical texts only") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("dup_cnt") == 2)
    assert(out.head.getAs[Long]("canonical_id") == 1L)
  }

  test("minhashLsh surfaces exact and near duplicates with jaccard") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val asMap = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(asMap((1L, 2L)) === 1.0) // identical
    assert(asMap.contains((1L, 3L)) && asMap((1L, 3L)) > 0.5) // near dup
    assert(!asMap.keys.exists(k => k._1 == 4L || k._2 == 4L)) // distinct doc clean
  }

  test("ngramJaccard matches minhash-verified jaccard on candidates") {
    val ng = Dedup.ngramJaccard(docs, "doc_id", "text",
      shingleN = 3, maxShingleDf = 100, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ng((1L, 2L)) === 1.0)
    assert(ng((1L, 3L)) > 0.5)
  }

  test("pairwise-exact verifiers refuse past the maxPairRows budget " +
    "(the dup-heavy sf1-probe regime, scaled down)") {
    // the sf1 ScaleUp regime in miniature: a mega-cluster of
    // identical docs, where every shared shingle posting pairs all
    // members — Σ_sh C(df,2) grows quadratically with cluster size.
    // 20 copies × ~30 distinct shingles/doc → ~30·C(20,2) ≈ 5700
    // pair rows: over a budget of 1000, under the permissive default.
    val heavy = (1L to 20L).map(i => (i, base)).toDF("doc_id", "text")
    val e1 = intercept[IllegalStateException] {
      Dedup.ngramJaccard(heavy, "doc_id", "text",
        shingleN = 3, maxShingleDf = 100, minJaccard = 0.5,
        maxPairRows = 1000L)
    }
    assert(e1.getMessage.contains("maxPairRows"), e1.getMessage)
    assert(e1.getMessage.contains("minhashLsh"), e1.getMessage) // names the scale route
    val e2 = intercept[IllegalStateException] {
      Dedup.ngramJaccardPrefix(heavy, "doc_id", "text",
        shingleN = 3, minJaccard = 0.5, maxPairRows = 1000L)
    }
    assert(e2.getMessage.contains("ngramJaccardPrefix"), e2.getMessage)
    // under the default budget the same corpus runs fine: all
    // C(20,2) = 190 pairs verify at jaccard 1.0
    assert(Dedup.ngramJaccard(heavy, "doc_id", "text",
      shingleN = 3, maxShingleDf = 100, minJaccard = 0.5).count() == 190L)
    assert(Dedup.ngramJaccardPrefix(heavy, "doc_id", "text",
      shingleN = 3, minJaccard = 0.5).count() == 190L)
  }

  test("ngramJaccardPrefix is lossless: identical pairs and jaccard " +
    "to the flat inverted-index op") {
    // mixed corpus: exact dup, near dup, distinct — with the df cap
    // high enough that the flat op prunes nothing, both ops compute
    // the same exact all-pairs Jaccard (prefix filtering + the
    // array-intersect verify must lose no pair and change no value)
    val all = docs.unionAll(Seq(
      (5L, base.replace("quick", "swift").replace("owls", "birds"))
    ).toDF("doc_id", "text"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1)) -> r.getDouble(2)
    val flat = Dedup.ngramJaccard(all, "doc_id", "text",
      shingleN = 3, maxShingleDf = 1000, minJaccard = 0.3)
      .collect().map(key).toMap
    val pfx = Dedup.ngramJaccardPrefix(all, "doc_id", "text",
      shingleN = 3, minJaccard = 0.3)
      .collect().map(key).toMap
    assert(pfx == flat, s"prefix $pfx != flat $flat")
    assert(pfx.contains((1L, 2L)) && pfx((1L, 2L)) == 1.0)
    assert(pfx.keys.exists { case (a, b) => b == 5L || a == 5L })
  }

  test("incrementalLsh finds new-vs-old pairs from a persisted band " +
    "index without re-pairing the corpus") {
    // corpus: docs 1 (base) and 4 (distinct); tonight's batch: doc 3
    // (near-dup of 1) and doc 5 (novel). Expect exactly 3→1; the
    // old×old pair space (1,4) and intra-batch space (3,5) are never
    // consulted.
    val baseDocs = Seq((1L, base), (4L, distinct)).toDF("doc_id", "text")
    val delta = Seq((3L, nearDup),
      (5L, "entirely novel content with no overlap to anything else at all"))
      .toDF("doc_id", "text")
    val index = Dedup.minhashBandIndex(baseDocs, "doc_id", "text")
    val out = Dedup.incrementalLsh(index, baseDocs, delta,
      "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 1)
    assert(out.head._1 == 3L && out.head._2 == 1L && out.head._3 > 0.5)

    // the same probe against the index PERSISTED as a bucketed table
    // (the production nightly: pre-shuffled by write, re-read across
    // sessions) yields the identical result
    import graft.sources.Corpus
    spark.sql("DROP TABLE IF EXISTS inc_band_idx")
    Corpus.writeBucketed(index, "inc_band_idx", "bkey", 4)
    val persisted = spark.table("inc_band_idx")
    val out2 = Dedup.incrementalLsh(persisted, baseDocs, delta,
      "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out2.toSeq == out.toSeq)
    spark.sql("DROP TABLE IF EXISTS inc_band_idx")

    // agreement with the batch op: on base+delta together, minhashLsh's
    // cross pairs (one side in the batch) are exactly the incremental
    // output pairs
    val full = Dedup.minhashLsh(baseDocs.unionAll(delta), "doc_id", "text",
      minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cross = full.filter { case (a, b) =>
      Set(3L, 5L).contains(a) ^ Set(3L, 5L).contains(b) }
    assert(cross == out.map(p => (math.min(p._1, p._2),
      math.max(p._1, p._2))).toSet)
  }

  test("connectedComponents switches to RELIABLE per-round checkpoints " +
    "when the session has a checkpoint dir, with identical labeling") {
    import graft.operators.Stats
    import graft.sources.Corpus
    // the same storage rule (Caching.truncateLineage) holds for
    // labelPropagation's rounds and for an in-place compactLog: each
    // gives the rows of its localCheckpoint run and writes files under
    // a fresh checkpoint dir
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val log = Seq((1L, 0L, 10L, false), (1L, 1L, 11L, false), (2L, 0L, 20L, false),
      (2L, 1L, 20L, true), (3L, 0L, 30L, false)).toDF("doc_id", "version", "n", "deleted")
    def cc(): Map[Long, Long] =
      Dedup.connectedComponents(pairs, "a", "b")
        .select("node", "component").as[(Long, Long)].collect().toMap
    def lpa(): Set[(Long, Long, Long)] =
      Stats.labelPropagation(pairs, "a", "b").as[(Long, Long, Long)].collect().toSet
    // compacts a fresh copy of the log IN PLACE: the merge reads the
    // path it overwrites
    def compactInPlace(): Set[(Long, Long, Long, Boolean)] = {
      val path = java.nio.file.Files.createTempDirectory("graft_compact_ckpt").toString
      log.write.mode("overwrite").parquet(path)
      val n = Corpus.compactLog(spark.read.parquet(path), Seq("doc_id"), "version",
        Some("deleted"), path, targetRowsPerFile = 2L)
      assert(n == 2L)
      spark.read.parquet(path).as[(Long, Long, Long, Boolean)].collect().toSet
    }
    val viaLocal = (cc(), lpa(), compactInPlace())
    def underFreshDir[T](body: => T): T = {
      val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt")
      spark.sparkContext.setCheckpointDir(dir.toString)
      val out = body
      // the frames actually landed on stable storage
      val files = java.nio.file.Files.walk(dir)
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(files > 0, s"no reliable checkpoint files under $dir")
      out
    }
    try {
      assert(underFreshDir(cc()) == viaLocal._1)
      assert(underFreshDir(lpa()) == viaLocal._2)
      assert(underFreshDir(compactInPlace()) == viaLocal._3)
    } finally {
      // the fixture session is shared across suites — restore the
      // no-checkpoint-dir default so later specs keep exercising the
      // localCheckpoint path
      val f = classOf[org.apache.spark.SparkContext]
        .getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(spark.sparkContext, None)
    }
  }

  test("selectSurvivors keeps the best-scored doc per cluster (ties to " +
    "the smallest id) plus every unclustered doc, with no window sort") {
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 5L), (9L, 7L))
      .toDF("doc_id", "n_chars")
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("doc_id", "component")
    val out = Dedup.selectSurvivors(docs, comps, "doc_id", "n_chars")
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2)))
      .toSet
    // cluster 1: lengths 10/30/30 — the 30-tie goes to id 2;
    // single-member component 4 keeps itself; doc 9 never clustered
    assert(out == Set((2L, Some(1L), 30L), (4L, Some(4L), 5L),
      (9L, None, 7L)))
    // the per-cluster argmax is a map-side-combinable aggregate, not
    // a window rank over clusters
    val plan = Dedup.selectSurvivors(docs, comps, "doc_id", "n_chars")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"survivor argmax must not window:\n$plan")
    // the -id tie-break is integral-only; a string id must fail fast,
    // not silently cast to double
    intercept[IllegalArgumentException] {
      Dedup.selectSurvivors(
        docs.withColumn("doc_id", docs("doc_id").cast("string")),
        comps.withColumn("doc_id", comps("doc_id").cast("string")),
        "doc_id", "n_chars")
    }
  }

  test("nightly probe over a bkey-bucketed persisted band index plans " +
    "with ZERO exchange on the index side; an unbucketed index does not") {
    import graft.sources.Corpus
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val baseDocs = Seq((1L, base), (4L, distinct)).toDF("doc_id", "text")
    val delta = Seq((3L, nearDup)).toDF("doc_id", "text")
    val index = Dedup.minhashBandIndex(baseDocs, "doc_id", "text")
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rmrf)
      p.delete(): Unit
    }
    Seq("nightly_band_idx", "nightly_band_plain").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a crashed prior run can leave the managed location behind
      rmrf(new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t))
    }
    Corpus.writeBucketed(index, "nightly_band_idx", "bkey", 4)
    index.write.format("parquet").saveAsTable("nightly_band_plain")
    // shuffles that read ONLY the index table = the corpus-sized
    // exchanges the bucketed layout must eliminate (new-batch-side
    // and post-candidate shuffles read other leaves too, and stay).
    // The operator caches its candidate frame, so the probe stage
    // lives inside an InMemoryRelation — the walk descends into
    // cached plans for both the shuffle collection and the leaf test.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def allShuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
      p.collect { case s: ShuffleExchangeExec => s } ++
        p.collect { case im: InMemoryTableScanExec => im }
          .flatMap(im => allShuffles(im.relation.cachedPlan))
    def indexOnly(p: SparkPlan, table: String): Boolean = {
      val leaves = p.collectLeaves()
      leaves.nonEmpty && leaves.forall {
        case f: FileSourceScanExec => f.toString.contains(table)
        case im: InMemoryTableScanExec =>
          indexOnly(im.relation.cachedPlan, table)
        case _ => false
      }
    }
    def indexOnlyShuffles(table: String): Int = {
      val plan = Dedup.incrementalLsh(spark.table(table),
        baseDocs, delta, "doc_id", "text", minJaccard = 0.5,
        cacheIndex = false).queryExecution.executedPlan
      allShuffles(plan).count(s => indexOnly(s, table))
    }
    // AQE re-wraps the tree mid-audit and auto-broadcast would
    // trivialise the claim (at 100 TB the corpus index is never
    // broadcast-able): pin the static sort-merge shape
    val saved = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k =>
      k -> spark.conf.get(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // unbucketed: the bucket-count aggregate and the probe join each
      // re-cluster the corpus-sized index — the exchanges the nightly
      // must not pay
      assert(indexOnlyShuffles("nightly_band_plain") > 0,
        "self-check: the detector must flag the unbucketed layout")
      // bucketed by bkey: HashPartitioning(bkey) satisfies every
      // (band, bkey) distribution downstream — zero index-side
      // exchange from scan to candidate join
      assert(indexOnlyShuffles("nightly_band_idx") == 0,
        "bucketed index side must plan without an exchange")
      // and the probe still answers correctly through the bucketed,
      // uncached plan
      val out = Dedup.incrementalLsh(spark.table("nightly_band_idx"),
        baseDocs, delta, "doc_id", "text", minJaccard = 0.5,
        cacheIndex = false)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(out.toSeq == Seq((3L, 1L)), out.toSeq.toString)
    } finally {
      saved.foreach { case (k, v) => spark.conf.set(k, v) }
      // the probes cached candidate/shingle frames over tables this
      // test is about to drop — clear before other suites run
      spark.catalog.clearCache()
      Seq("nightly_band_idx", "nightly_band_plain").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("incrementalLsh never emits a self-pair when the id-disjointness " +
    "contract is violated (re-crawled doc keeping its id)") {
    // doc 1 is re-crawled VERBATIM under its existing id: every band
    // collides with itself. Without the guard the probe would emit
    // (1, 1, jaccard 1.0) — the guard drops identity pairs while
    // keeping genuine cross pairs (3 → 1) intact.
    val baseDocs = Seq((1L, base), (4L, distinct)).toDF("doc_id", "text")
    val delta = Seq((1L, base), (3L, nearDup)).toDF("doc_id", "text")
    val index = Dedup.minhashBandIndex(baseDocs, "doc_id", "text")
    val out = Dedup.incrementalLsh(index, baseDocs, delta,
      "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(!out.exists(p => p._1 == p._2), s"self-pair leaked: ${out.toSeq}")
    assert(out.exists(p => p._1 == 3L && p._2 == 1L && p._3 > 0.5),
      s"genuine cross pair lost: ${out.toSeq}")
  }

  test("incrementalLsh re-reads old docs only through a semi-join " +
    "prune (the lake-scale point-lookup contract)") {
    val baseDocs = Seq((1L, base), (4L, distinct)).toDF("doc_id", "text")
    val delta = Seq((3L, nearDup)).toDF("doc_id", "text")
    val index = Dedup.minhashBandIndex(baseDocs, "doc_id", "text")
    val plan = Dedup.incrementalLsh(index, baseDocs, delta,
      "doc_id", "text", minJaccard = 0.5)
      .queryExecution.executedPlan.toString
    // the base corpus must enter the verify ONLY behind the
    // candidate-bounded semi prune — at 100 TB that is a point
    // lookup against the doc store, never a full re-shingle
    assert(plan.contains("LeftSemi"), s"no semi prune in plan:\n$plan")
  }

  test("simhash of identical docs is identical; near dups within hamming 6") {
    val sims = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sims(1L) == sims(2L))
    // both 32-bit halves stay in [0, 2^32) — cross-engine safe range
    sims.values.foreach { case (hi, lo) =>
      assert(hi >= 0L && hi < (1L << 32) && lo >= 0L && lo < (1L << 32))
    }
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) == 0)
  }

  test("embeddingNearDup finds high-cosine pairs within blocks only") {
    import org.apache.spark.sql.functions.col
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.99f, 0.1f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 0),
      (4L, Array(1.0f, 0.0f, 0.0f), 1) // same vector, different block
    ).toDF("vec_id", "embedding", "label")
    val out = Dedup.embeddingNearDup(vecs, "vec_id", "embedding", col("label"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((1L, 2L))) // cross-block pair (1,4) not probed
  }

  test("embeddingNearDup with signCode blocking derives blocks from the data") {
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorFns
    val vecs = Seq(
      (1L, Array(1.0f, 1.0f, 1.0f)),
      (2L, Array(0.9f, 1.0f, 1.1f)),   // same sign pattern, cos ~1
      (3L, Array(-1.0f, -1.0f, -1.0f)) // opposite block
    ).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(vecs, "vec_id", "embedding",
      VectorFns.signCode(col("embedding"), 3), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((1L, 2L)))
  }

  test("semanticDedup drops higher ids inside k-means ε-balls, keeps cluster keepers") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),   // cluster A keeper (seed 0)
      (2L, Array(0.0f, 1.0f, 0.0f)),   // cluster B keeper (seed 1)
      (3L, Array(0.99f, 0.1f, 0.0f)),  // near-dup of 1
      (4L, Array(0.0f, 0.99f, 0.12f)), // near-dup of 2
      (5L, Array(0.99f, 0.1f, 0.02f))  // near-dup of 3 AND (less) of 1
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, "vec_id", "embedding",
      k = 2, iters = 2, minCos = 0.95)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cell"), r.getAs[Long]("dup_of")))
      .toMap
    // keepers 1 and 2 are absent; every ε-ball member above them drops
    assert(out.keySet == Set(3L, 4L, 5L))
    assert(out(3L) == (0, 1L)) // cluster A cell, attributed to keeper 1
    assert(out(4L) == (1, 2L)) // cluster B cell
    // 5 qualifies against BOTH 3 (cos .9998) and 1 (cos .9947):
    // attribution picks the MOST-SIMILAR lower id (3), not the
    // smallest (1) — the two policies disagree here by construction
    assert(out(5L) == (0, 3L))
    // cross-cluster pairs (cos ~0.1) never meet: different cells
  }

  test("semanticDedup maxCell guard: oversized cells emit no pairs") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.01f)),
      (3L, Array(0.98f, 0.02f))
    ).toDF("vec_id", "embedding")
    // everything lands in one 3-member cell; cap at 2 prunes it whole
    val out = Dedup.semanticDedup(vecs, "vec_id", "embedding",
      k = 1, iters = 1, minCos = 0.9, maxCell = 2)
    assert(out.count() == 0)
  }

  test("every blocked pair generator keeps a block of exactly the cap, " +
    "drops one of cap + 1, and joins one cached pruned relation with itself") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorFns
    // identical members make every block key of a group equal: group A
    // (ids 1, 3, 5) is a block of exactly the cap, group B (ids 2, 4,
    // 6, 8) one of cap + 1; the two groups share no block
    val cap = 3
    val (groupA, groupB) = (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L, 8L))
    val textDocs = (groupA.map(_ -> base) ++ groupB.map(_ -> distinct))
      .toDF("doc_id", "text")
    val vecs = (groupA.map(_ -> Array(1.0f, 1.0f, 1.0f, 1.0f)) ++
      groupB.map(_ -> Array(-1.0f, -1.0f, -1.0f, -1.0f))).toDF("vec_id", "embedding")
    val emb = col("embedding")
    val sigs = Dedup.minhashSignatures(Dedup.shingles(textDocs, "doc_id", "text", 3),
      "doc_id", 32)
    def pairs(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val aPairs = Set((1L, 3L), (1L, 5L), (3L, 5L))
    // (operator, its output as (lower id, higher id) pairs, expected,
    // self-joins on a pruned cache: one per band)
    val cases: Seq[(String, DataFrame, DataFrame => Set[(Long, Long)], Set[(Long, Long)], Int)] =
      Seq(
        ("lshCandidates", Dedup.lshCandidates(sigs, "doc_id", 32, 4, maxBucket = cap),
          pairs, aPairs, 1),
        ("ngramJaccard", Dedup.ngramJaccard(textDocs, "doc_id", "text", shingleN = 3,
          maxShingleDf = cap, minJaccard = 0.5), pairs, aPairs, 1),
        ("simhashPairs", Dedup.simhashPairs(textDocs, "doc_id", "text", maxBucket = cap),
          pairs, aPairs, 1),
        ("embeddingNearDupBands", Dedup.embeddingNearDupBands(vecs, "vec_id", "embedding",
          Seq(VectorFns.signCodeAt(emb, 1, 2), VectorFns.signCodeAt(emb, 3, 2)), 0.9,
          maxBlock = cap), pairs, aPairs, 2),
        ("embeddingNearDup", Dedup.embeddingNearDup(vecs, "vec_id", "embedding",
          VectorFns.signCode(emb, 4), 0.9, maxBlock = cap), pairs, aPairs, 1),
        // one row per dropped vector: (dup_of, vec_id); 5 ties 1 and 3
        // at 1.0 and goes to the smaller
        ("semanticDedup", Dedup.semanticDedup(vecs, "vec_id", "embedding", k = 2, iters = 1,
          minCos = 0.9, maxCell = cap),
          df => df.collect().map(r => (r.getAs[Long]("dup_of"), r.getAs[Long]("vec_id"))).toSet,
          Set((1L, 3L), (1L, 5L)), 1))
    // the cached relation a join side reads through projections and
    // filters only
    def cachedLeaf(p: LogicalPlan): Option[InMemoryRelation] = p match {
      case r: InMemoryRelation => Some(r)
      case Project(_, c) => cachedLeaf(c)
      case Filter(_, c) => cachedLeaf(c)
      case _ => None
    }
    cases.foreach { case (op, out, read, expected, selfJoins) =>
      assert(read(out) == expected, op)
      // both sides of each pair join read ONE cached relation, and
      // that relation is the pruned frame (its build holds the prune
      // join), not a pre-prune cache
      val onPruned = out.queryExecution.optimizedPlan.collect {
        case j: Join => (cachedLeaf(j.left), cachedLeaf(j.right)) match {
          case (Some(a), Some(b)) if a.cacheBuilder eq b.cacheBuilder =>
            PlanWalk.expand(a.cacheBuilder.cachedPlan).exists(_.isInstanceOf[BaseJoinExec])
          case _ => false
        }
      }.count(identity)
      assert(onPruned == selfJoins, s"$op:\n${out.queryExecution.optimizedPlan}")
    }
    spark.catalog.clearCache()
  }

  test("connectedComponents labels every cluster with its min id") {
    val pairs = Seq(
      (2L, 5L), (5L, 9L),   // chain {2,5,9}
      (7L, 3L),             // pair {3,7}
      (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L) // path, diameter 4
    ).toDF("da", "db")
    val out = Dedup.connectedComponents(pairs, "da", "db")
      .collect()
      .map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("component"), r.getAs[Long]("cluster_size")))
      .toMap
    assert(out(2L) == (2L, 3L) && out(5L) == (2L, 3L) && out(9L) == (2L, 3L))
    assert(out(3L) == (3L, 2L) && out(7L) == (3L, 2L))
    (11L to 15L).foreach(n => assert(out(n) == (11L, 5L)))
    assert(out.size == 10)
  }

  test("connectedComponents fails loudly when the diameter exceeds maxIters") {
    val path = (1L until 8L).map(i => (i, i + 1)).toDF("da", "db")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(path, "da", "db", maxIters = 2).collect()
    }
  }

  test("repeatedSpans merges overlapping windows and classifies coverage") {
    val docs = Seq(
      (1L, "a b c d e f g h"),             // shares "a b c d" with doc 2
      (2L, "x x a b c d y z"),
      (3L, "p q r s t u v w"),             // unique — zero coverage
      (4L, "jj kk ll mm nn"),              // 4 == 5: fully duplicated
      (5L, "jj kk ll mm nn"),
      (6L, "a b c za zb zc a b c zd"),      // two DISJOINT dup spans
      (7L, "a b c")                         // single fully-dup window
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, "doc_id", "text", windowTokens = 3)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_dup_windows"), r.getAs[Long]("dup_cover_tokens"),
          r.getAs[Double]("dup_frac"), r.getAs[String]("action"))))
      .toMap
    // overlapping starts 0,1 union to 4 tokens ("a b c d"), not 6
    assert(out(1L) == ((2L, 4L, 0.5, "trim")))
    assert(out(2L) == ((2L, 4L, 0.5, "trim")))
    assert(out(3L) == ((0L, 0L, 0.0, "keep")))
    // identical 5-token docs: starts 0,1,2 union to all 5 tokens
    assert(out(4L) == ((3L, 5L, 1.0, "drop")))
    assert(out(5L) == ((3L, 5L, 1.0, "drop")))
    // disjoint dup spans at 0 and 6 contribute w each (no over-merge)
    assert(out(6L) == ((2L, 6L, 0.6, "trim")))
    assert(out(7L) == ((1L, 3L, 1.0, "drop")))
    assert(out.size == 7)
  }

  test("contaminatedSpans reports merged eval-passage coverage per doc") {
    import graft.operators.Decontam
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      // two OVERLAPPING contaminated windows ("alpha beta gamma" at
      // 2, "beta gamma delta" at 3) union to 4 tokens of 8
      (1L, "x y alpha beta gamma delta p q"),
      (2L, "nothing shared with the suite here"),
      // the same eval passage twice, disjoint -> 3 + 3 of 9
      (3L, "alpha beta gamma z1 z2 z3 alpha beta gamma")
    ).toDF("doc_id", "text")
    val out = Decontam.contaminatedSpans(corpus, bench,
      "doc_id", "text", windowTokens = 3)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("contam_windows"),
          r.getAs[Long]("contam_cover_tokens"),
          r.getAs[Double]("contam_frac"))))
      .toMap
    assert(out(1L) == ((8L, 2L, 4L, 0.5)))
    assert(out(3L) == ((9L, 2L, 6L, 0.666667)))
    assert(!out.contains(2L)) // clean docs are absent
  }

  test("contaminatedBloom equals contaminated exactly — even under an " +
    "FP-heavy bloom (fpp=0.5) the exact verify absorbs false positives") {
    import graft.operators.Decontam
    import org.apache.spark.sql.functions.lit
    // enough distinct corpus grams that a 0.5-fpp bloom statistically
    // MUST pass false positives into the verify join
    val corpus = (1L to 60L).map(i =>
      (i, s"token$i alpha$i beta$i gamma$i delta$i eps$i zeta$i " +
        (if (i % 7 == 0) "shared eval phrase here" else s"tail$i end$i")))
      .toDF("doc_id", "text")
    val bench = Seq((1000L, "shared eval phrase here plus suite only words"))
      .toDF("doc_id", "text")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("hit_grams"), r.getAs[Double]("contamination"))).toSet
    val exact = key(Decontam.contaminated(corpus, bench, "doc_id", "text", 2))
    assert(exact.nonEmpty)
    assert(key(Decontam.contaminatedBloom(corpus, bench, "doc_id", "text", 2,
      fpp = 0.5)) == exact)
    assert(key(Decontam.contaminatedBloom(corpus, bench, "doc_id", "text", 2))
      == exact)
    // empty bench: nothing is contaminated (and no bloom is built)
    assert(Decontam.contaminatedBloom(corpus,
      bench.where(lit(false)), "doc_id", "text", 2).isEmpty)
  }

  test("contaminatedBloom never shuffles the corpus gram set: every " +
    "exchange it plans carries bench- or hit-scale rows, while " +
    "contaminated's distinct exchange carries ALL corpus grams") {
    import graft.operators.Decontam
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // 4 distinct 2-grams per doc, exactly one of them ("shared phrase")
    // overlapping the eval suite -> 160 corpus grams, 40 hit rows
    val corpus = (1L to 40L).map(i => (i, s"w$i x$i shared phrase y$i"))
      .toDF("doc_id", "text")
    val bench = Seq((99L, "shared phrase")).toDF("doc_id", "text")
    val totalGrams = 160L
    def shuffleRows(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
      df.collect() // materialize so AQE finalizes the plan + metrics
      PlanWalk.expand(df.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeLike =>
          e.metrics("shuffleRecordsWritten").value }
    }
    val bloomRows = shuffleRows(
      Decontam.contaminatedBloom(corpus, bench, "doc_id", "text", 2))
    val setRows = shuffleRows(
      Decontam.contaminated(corpus, bench, "doc_id", "text", 2))
    // bloom path plans exactly two exchanges, BOTH small: the bench
    // gram distinct (eval-suite-scale) and the hit aggregate over
    // bloom survivors (map-side combined, <=1 row per doc per
    // partition) — per-doc distinct is in-row, the probe is a
    // map-side filter, the verify join broadcasts
    assert(bloomRows.size == 2, s"bloom path planned $bloomRows")
    assert(bloomRows.max < totalGrams / 2,
      s"a bloom-path exchange carried ${bloomRows.max} rows — " +
        "corpus-scale, the shape this operator exists to avoid")
    // the set path's corpus-wide (doc, gram) distinct + downstream
    // aggregates shuffle strictly more rows (exact accounting is
    // blurred by its corpusGrams cache, whose build plan owns part of
    // the distinct's metrics — the relational claim is the stable one)
    assert(setRows.sum > bloomRows.sum,
      s"expected contaminated to shuffle more rows than the bloom " +
        s"path: set=$setRows bloom=$bloomRows")
    assert(setRows.max > bloomRows.max,
      s"set path's largest exchange should exceed the bloom path's: " +
        s"set=$setRows bloom=$bloomRows")
  }

  test("repeatedSpans ignores repeats confined to a single document") {
    val docs = Seq(
      (1L, "m n o m n o m n o"), // heavy WITHIN-doc repetition only
      (2L, "totally unrelated words here")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, "doc_id", "text", windowTokens = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_dup_windows")).toMap
    assert(out(1L) == 0L && out(2L) == 0L)
  }
}
