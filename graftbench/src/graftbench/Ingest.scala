package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Chunker, Dedup, Embed, VectorSearch}
import graft.sources.Corpus

/** `ingest`: one bulk corpus build per step. Raw sectioned papers
  * (JSONL, with planted exact and near duplicates) go through
  * readJsonl → Chunker (fixedChunks, filterJunk, tagSections) →
  * Embed.hashedTfIdf → Dedup.exact + MinHash lshCandidates /
  * jaccardVerify → groupCentroids + knnJoin (similar papers) →
  * writePartitioned. Each stage is materialized (eager
  * localCheckpoint) inside its span, then the Caching contract's clear
  * runs. After each build, ProbeRounds passes of serve's schedule (40
  * search requests) probe the freshly written table (read-your-build); their latency
  * feeds the search metrics, never docs/s. The discarded warm-up builds
  * the same input, so every run compares the output checksums of at
  * least two builds.
  */
final class Ingest(h: Harness, gen: Gen) extends Workload {
  import Ingest._

  private val (papers, plantedExact, plantedNear) = gen.papers(Papers)
  private val lines = papers.map(Gen.jsonLine)
  private val inputBytes = lines.map(_.length + 1L).sum
  private val probeTerms = {
    val r = new java.util.SplittableRandom(h.a.seed)
    Array.fill(64) {
      val t = r.nextInt(Gen.Topics)
      Seq.fill(Gen.QueryTerms)(gen.topicTerm(r, t))
    }
  }

  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def input(n: String) = h.path(s"input/$n.jsonl")
  private def out(n: String) = h.path(s"out/$n")

  /** Session start plus staging the generated JSONL into the landing
    * directory the build reads.
    */
  def setup(): Unit = {
    h.newSession()
    h.deleteTree(h.path("input"))
    Files.createDirectories(Paths.get(h.path("input")))
    Files.write(Paths.get(input("papers")), (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }

  def afterSetup(): Unit = h.bytesWritten = 0L

  private def cp(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Run one stage inside its span, then apply the Caching contract. */
  private def stage[T](name: String)(body: => T): T = {
    val r = h.tracer.span(name)(body)
    h.clearCaches()
    r
  }

  /** What one build leaves for its checks and probes. */
  private final case class Built(exactDrop: DataFrame, cand: DataFrame, pairs: DataFrame,
      labelCents: Array[Row], ns: Long)

  private def build(path: String): Built = {
    val spark = h.spark
    val t0 = System.nanoTime()
    val docs = stage("Corpus.readJsonl")(cp(Corpus.readJsonl(spark, path, RawSchema)))
    val chunks = stage("Chunker.chunkPipeline") {
      val c = Chunker.fixedChunks(docs, "doc_id", "text", ChunkSize, Overlap)
      val j = Chunker.filterJunk(c, "chunk_text", MinChars, MinAlpha, Gen.JunkWords, MaxJunkHits)
      val t = Chunker.tagSections(j, "chunk_text", Gen.Markers, "body")
      cp(t.join(docs.select("doc_id", "label", "year"), "doc_id")
        .withColumn("chunk_id", col("doc_id") * 1000L + col("chunk_index")))
    }
    val emb = stage("Embed.hashedTfIdf")(cp(Embed.hashedTfIdf(chunks, "chunk_id", "chunk_text", Gen.Dim)))
    val exactDrop = stage("Dedup.exact") {
      val g = Dedup.exact(docs, "doc_id", "text")
      cp(docs.join(g, md5(col("text")) === col("text_hash"))
        .where(col("doc_id") =!= col("canonical_id")).select("doc_id"))
    }
    val kept = docs.join(exactDrop, Seq("doc_id"), "left_anti")
    val (sh, cand) = stage("Dedup.lshCandidates") {
      val sh = cp(Dedup.shingles(kept, "doc_id", "text", ShingleN))
      val sigs = Dedup.minhashSignatures(sh, "doc_id", NumHashes)
      (sh, cp(Dedup.lshCandidates(sigs, "doc_id", NumHashes, BandRows, MaxBucket)))
    }
    val pairs = stage("Dedup.jaccardVerify")(cp(Dedup.jaccardVerify(cand, sh, "doc_id", MinJaccard)))
    val survivors = kept.join(pairs.select(col("db").as("doc_id")), Seq("doc_id"), "left_anti")
      .select("doc_id")
    val finalChunks = chunks.join(survivors, Seq("doc_id"), "left_semi").join(emb, "chunk_id")
      .select(col("chunk_id").as("id"), col("doc_id"), col("chunk_text").as("text"),
        col("label"), col("year"), col("section"),
        transform(col("tfidf"), x => x.cast("float")).as("vec"))
    val (similar, labelCents) = stage("VectorSearch.knnJoin") {
      val cents = VectorSearch.centroidArrays(finalChunks, "doc_id", "vec")
      val sim = cp(VectorSearch.knnJoin(cents, cents.select(col("doc_id").as("qid"),
        col("centroid").as("qvec")), "doc_id", "centroid", "qid", "qvec", SimilarK))
      val lc = VectorSearch.centroidArrays(finalChunks, "label", "vec")
        .select(col("label").as("cell"), col("centroid")).collect()
      (sim, lc)
    }
    stage("Corpus.writePartitioned") {
      Corpus.writePartitioned(finalChunks, out("chunks"), Seq("section"))
      Corpus.writePartitioned(similar, out("similar"), Nil)
    }
    Built(exactDrop, cand, pairs, labelCents, System.nanoTime() - t0)
  }

  /** The written chunks table as the search oracle's rows. */
  private def collectRef(): (Reference, Array[Doc]) = {
    val rows = h.spark.read.parquet(out("chunks")).select("id", "text", "label", "year", "vec")
      .collect()
    val docs = rows.map(r => Doc(r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3),
      r.getSeq[Float](4).toArray))
    h.clearCaches()
    (new Reference(docs.map(d => (d.id, d.text, d.vec)).toSeq,
      docs.map(d => d.id -> d.label).toMap, docs.map(d => d.id -> d.year).toMap), docs)
  }

  /** Read-your-build probe: `rounds` passes of serve's request
    * schedule, one request of each shape per pass.
    */
  private def probe(b: Built, rounds: Int): Unit = {
    val spark = h.spark
    val cents = spark.createDataFrame(java.util.Arrays.asList(b.labelCents: _*), Serve.CentSchema)
    val s = new Search(h, spark.read.parquet(out("chunks")), None, cents, () => ref)
    for (round <- 1 to rounds) {
      for ((kind, i) <- Gen.Schedule.zipWithIndex) {
        val r = new java.util.SplittableRandom(h.a.seed * 31 + probes)
        val v = gen.jitter(r, probeVecs(r.nextInt(probeVecs.length)), 0.3)
        val terms = probeTerms(probes % probeTerms.length)
        val label = r.nextInt(Gen.Topics)
        probes += 1
        // a traced run leaves every other probe untraced, alternating by
        // round, so each kind has both sides (trace.overhead_pct)
        h.tracer.active = (round + i) % 2 == 1
        kind match {
          case "dense" => s.dense(v, None)
          case "dense_filtered" => s.dense(v, Some((label, Gen.FilterMinYear)))
          case "bm25" => s.bm25(terms)
          case "hybrid" => s.hybrid(v, terms)
          case _ => s.ann(v, NProbe)
        }
      }
    }
    h.tracer.active = true
  }

  private var builds = 0
  private var probes = 0
  private var checksum: Option[Long] = None
  private var ref: Reference = _
  private var probeVecs: Array[Array[Float]] = Array.empty
  private var liveBytes = 0L
  private val buildMs = mutable.ArrayBuffer.empty[Double]

  private def nonZero(docs: Array[Doc]) = docs.filter(_.vec.exists(_ != 0f)).map(_.vec)

  /** A build of the full input and its probes (JIT and codegen
    * warm-up). Its output checksum and rows are the reference every
    * measured build and probe is checked against.
    */
  def warmup(): Unit = {
    val b = build(input("papers"))
    verify(b)
    probe(b, WarmupProbeRounds)
  }

  def minSteps: Int = 1
  // a set-up here is a session restart plus staging the input, 0.1-0.3 s
  // warm; the median of six warm ones is steadier than of two
  def setups: Int = 7

  def step(): (Double, Long) = {
    val b = build(input("papers"))
    builds += 1
    if (h.tracer.phase == "run") buildMs += b.ns / 1e6
    h.wrote(out("chunks")); h.wrote(out("similar"))
    verify(b)
    probe(b, ProbeRounds)
    (papers.length.toDouble, b.ns)
  }

  /** The ids a correct dedup drops (driver-side reference). */
  private lazy val expectedDrops = Oracle.dedupDrops(papers.map(p => p.id -> p.text).toSeq,
    ShingleN, NumHashes, BandRows, MaxBucket, MinJaccard)

  /** Answer checks of one build (outside its timed span): the dropped
    * ids equal the reference's, planted duplicates are removed,
    * originals kept, and the output checksum equals the first build's.
    */
  private def verify(b: Built): Unit = {
    val nCand = b.cand.count()
    val dropped = (b.exactDrop.collect().map(_.getLong(0)) ++
      b.pairs.select("db").collect().map(_.getLong(0))).toSet
    if (h.tracer.phase == "run" && nCand > 0) {
      h.ratio("Dedup.jaccardVerify.useful_ratio", b.pairs.count().toDouble / nCand)
      h.ratio("Dedup.jaccardVerify.candidate_pairs", nCand.toDouble)
    }
    // order-free checksum of both outputs; values rounded to 4 dp so a
    // last-ulp difference in a floating sum cannot flip it
    def hashSum(df: DataFrame, cols: Column*): Long =
      df.select(sum(xxhash64(cols: _*).cast("decimal(38,0)")))
        .head().getDecimal(0).remainder(new java.math.BigDecimal(Long.MaxValue)).longValue
    val chk = hashSum(h.spark.read.parquet(out("chunks")), col("id"), col("section"), col("text"),
      transform(col("vec"), x => round(x, 4))) ^
      hashSum(h.spark.read.parquet(out("similar")), col("qid"), col("doc_id"),
        round(col("cos_sim"), 4), col("rnk"))
    if (checksum.isEmpty) {
      checksum = Some(chk)
      val (r, docs) = collectRef()
      ref = r
      probeVecs = nonZero(docs)
      liveBytes = docs.map(Search.userBytes).sum
    }
    h.clearCaches()
    h.op {
      val origIds = papers.map(_.id).toSet -- plantedExact.map(_._1) -- plantedNear.map(_._1)
      val nearHit = plantedNear.count(p => dropped(p._1)).toDouble / math.max(1, plantedNear.size)
      if (dropped != expectedDrops) Some(s"ingest: dedup dropped ${(dropped -- expectedDrops).size} " +
        s"ids the reference keeps and kept ${(expectedDrops -- dropped).size} it drops")
      else if (!plantedExact.forall(p => dropped(p._1))) Some("ingest: a planted exact duplicate survived")
      else if (nearHit < NearRecallFloor) Some(f"ingest: near-dup recall $nearHit%.3f < $NearRecallFloor")
      else if (origIds.exists(dropped)) Some("ingest: an original paper was dropped")
      else if (!checksum.contains(chk)) Some(s"ingest: checksum $chk differs from ${checksum.get}")
      else None
    }
  }

  def finish(): Unit = {
    h.info("papers") = Papers
    h.info("planted_exact") = plantedExact.size
    h.info("planted_near") = plantedNear.size
    h.info("builds") = builds
    h.info("checksummed_builds") = builds + 1
    h.info("build_p50_ms") = if (buildMs.isEmpty) 0.0 else Stats.median(buildMs.toSeq)
    h.info("output_checksum") = checksum.getOrElse(0L)
    h.info("chunks_written") = if (ref == null) 0 else ref.size
  }

  def writeAmp: Double = h.bytesWritten.toDouble / (inputBytes * math.max(1, builds))
  def spaceAmp: Double = (h.diskBytes(out("chunks")) + h.diskBytes(out("similar"))).toDouble / liveBytes
}

object Ingest {
  val Papers = 300
  val ChunkSize = 600
  val Overlap = 50
  val MinChars = 40
  val MinAlpha = 0.6
  val MaxJunkHits = 1
  val SimilarK = 6
  // ANN over the 16 label centroids: with nprobe 3, recall@10 swung
  // 0.88-1.0 from seed to seed (IQR/median 0.08 over five seeds); at 4,
  // ten seeds gave 0.875-1.0 with an IQR/median of 0.03
  val NProbe = 4
  // eight passes of the serve schedule (40 probes) per build: enough
  // for a p75 with ten samples beyond it
  val ProbeRounds = 8
  val WarmupProbeRounds = 1
  // MinHash LSH: word 3-gram shingles, 32 hashes in 8 bands of 4
  val ShingleN = 3
  val NumHashes = 32
  val BandRows = 4
  val MaxBucket = 100
  val MinJaccard = 0.5
  // A planted pair becomes a candidate with probability
  // 1 - (1 - J^4)^8: 0.996 at J = 0.85, the mean of a 3% word edit.
  // Over seeds 1-300 the reference misses no planted pair in 269 of
  // them, one in 30 and two in one (13/15 = 0.867), so the floor
  // allows three misses; the exact comparison with
  // Oracle.dedupDrops is the strict check.
  val NearRecallFloor = 0.8
  val RawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("label", IntegerType), StructField("year", IntegerType)))
}
