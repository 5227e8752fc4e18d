package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, BoundReference, Lower}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerBusShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen

import graft.expressions.{Bm25TermCounts, VecDot}
import graft.functions.TextFns
import graft.operators.{Bm25, Fusion, VectorSearch}

class SearchSpec extends SparkSpec {
  import spark.implicits._

  /** HOF twin of `Bm25.score`: dl and each tf counted over the
    * `bm25Tokens` array (`size(filter(tokens, _ === term))`), the
    * formulation the native Bm25TermCounts replaced, kept as its
    * differential-testing reference.
    */
  private def bm25ScoreHof(
      docs: DataFrame, idCol: String, textCol: String,
      rawQueryTerms: Seq[String],
      termWeights: Map[String, Double] = Map.empty): DataFrame = {
    val queryTerms = rawQueryTerms.map(TextFns.lcRoot).distinct
    val weights = termWeights.map { case (t, w) => TextFns.lcRoot(t) -> w }
    val idx = queryTerms.indices
    val tokens = TextFns.bm25Tokens(col(textCol))
    val perDoc = docs.select(
      col(idCol) +:
        size(tokens).cast("double").as("dl") +:
        idx.map(i =>
          size(filter(tokens, t => t === queryTerms(i))).cast("double")
            .as(s"tf_$i")): _*)
    val stats = perDoc.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (avg(col("dl")).as("avgdl") +:
        idx.map(i =>
          sum(when(col(s"tf_$i") > 0, 1).otherwise(0)).cast("double")
            .as(s"df_$i"))): _*)
    def idf(i: Int) = log((col("n_docs") - col(s"df_$i") + 0.5) /
      (col(s"df_$i") + 0.5) + 1.0)
    def tfNorm(i: Int) = col(s"tf_$i") * (Bm25.K1 + 1.0) /
      (col(s"tf_$i") + lit(Bm25.K1) *
        (lit(1.0 - Bm25.B) + lit(Bm25.B) * col("dl") / col("avgdl")))
    perDoc
      .where(idx.map(i => col(s"tf_$i")).reduce(_ + _) > 0)
      .crossJoin(broadcast(stats))
      .withColumn("bm25", idx.map(i =>
        idf(i) * tfNorm(i) * lit(weights.getOrElse(queryTerms(i), 1.0)))
        .reduce(_ + _))
      .select(col(idCol), col("bm25"))
  }

  /** Tokenizer edge cases: null, empty, whitespace, only short tokens,
    * digits, punctuation-split tokens, uppercase, non-ASCII letters
    * (é/ß, İ U+0130, the Kelvin sign U+212A that lowercases to ASCII
    * `k`) and 4-byte emoji.
    */
  private val edgeTexts: Seq[(Long, String)] = Seq(
    1L -> null, 2L -> "", 3L -> "  \t\n  ", 4L -> "a bb cc de f",
    5L -> "12 123 4567 p53 00000", 6L -> "co-expression of p53/MDM2 and MDM2",
    7L -> "TP53 Gene EXPRESSION expression Expression",
    8L -> "café straße ÉTUDE étude naïve résumé",
    9L -> "İstanbul İİİ \u0130ndex", 10L -> "\u212Aelvin KELVIN kelvin \u212A\u212A\u212A",
    11L -> "gene\uD83E\uDDECexpression \uD83D\uDE00\uD83D\uDE00 dna\uD83D\uDE00rna",
    12L -> "the mdm2 gene regulates p53 expression in the cell")

  /** Raw query terms: repeated, uppercase, ≤ 2 characters, and with
    * punctuation (never a token, so they must count 0).
    */
  private val edgeTerms: Seq[String] = Seq(
    "expression", "EXPRESSION", "p53", "MDM2", "co-expression", "p53/mdm2",
    "ab", "cc", "kelvin", "caf", "stra", "stanbul", "ndex", "gene", "dna",
    "rna", "123", "00000", "tp53", "the", "expression")

  /** The edge corpus as a parquet scan: a projection over a local
    * `toDF` frame is folded into the LocalRelation by the optimizer and
    * evaluated interpreted, never through generated code.
    */
  private def edgeDocs: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("bm25_edge").toString
    edgeTexts.toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("Bm25TermCounts matches the HOF token counts on every edge text, " +
    "codegen'd and interpreted") {
    val terms = edgeTerms.map(TextFns.lcRoot).distinct
    val docs = edgeDocs
    val tokens = TextFns.bm25Tokens(col("text"))
    val hof = docs.select(col("doc_id"),
      when(col("text").isNotNull, array(
        size(tokens).cast("double") +: terms.map(t =>
          size(filter(tokens, _ === t)).cast("double")): _*)).as("c"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    val native = docs.select(col("doc_id"),
      TextFns.bm25TermCounts(col("text"), terms).as("c"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    assert(native == hof)
    assert(native(1L).isEmpty, "null text must give null counts")
    assert(native(2L).contains(Seq.fill(terms.size + 1)(0.0)))
    // the kernel really counts: spot values the HOF twin agrees on
    val at = terms.zipWithIndex.toMap
    assert(native(6L).get(0) == 5.0) // expression p53 mdm2 and mdm2
    assert(native(6L).get(at("mdm2") + 1) == 2.0)
    assert(native(7L).get(at("expression") + 1) == 3.0)
    assert(native(10L).get(at("kelvin") + 1) == 3.0) // U+212A folds to k
    assert(native(11L).get(at("expression") + 1) == 1.0)
    assert(native(6L).get(at("co-expression") + 1) == 0.0)
    // the generated code (doGenCode, compiled strictly — a compile
    // error throws instead of falling back) and the interpreted path
    // (nullSafeEval) each give the same arrays
    val expr = Bm25TermCounts(Lower(BoundReference(0, StringType, nullable = true)), terms)
    val generated = GenerateUnsafeProjection.generate(Seq(expr))
    edgeTexts.foreach { case (id, t) =>
      val row = InternalRow(UTF8String.fromString(t))
      val gen = generated(row)
      val viaCodegen = if (gen.isNullAt(0)) None else Some(gen.getArray(0).toDoubleArray().toSeq)
      val viaEval = Option(expr.eval(row)).map(_.asInstanceOf[ArrayData].toDoubleArray().toSeq)
      assert(viaCodegen == hof(id), s"generated counts differ on doc $id")
      assert(viaEval == hof(id), s"interpreted counts differ on doc $id")
    }
  }

  test("Bm25.score equals its HOF twin row for row on the edge corpus") {
    val docs = edgeDocs
    def rows(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).toSeq
    val native = rows(Bm25.score(docs, "doc_id", "text", edgeTerms))
    assert(native.nonEmpty)
    assert(native == rows(bm25ScoreHof(docs, "doc_id", "text", edgeTerms)))
    val weights = Map("GENE" -> 0.25, "kelvin" -> 2.0)
    assert(rows(Bm25.score(docs, "doc_id", "text", edgeTerms, weights)) ==
      rows(bm25ScoreHof(docs, "doc_id", "text", edgeTerms, weights)))
  }

  test("bm25 corpus stats count zero-token docs in N and avgdl") {
    // N = 3, avgdl = (0 + 0 + 3) / 3 = 1; dropping the two docs with
    // no token longer than 2 characters would give N = 1, avgdl = 3
    val docs = Seq((1L, ""), (2L, "a bb"), (3L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val s = Bm25.score(docs, "doc_id", "text", Seq("alpha"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (k1, b) = (Bm25.K1, Bm25.B)
    val expected = math.log((3 - 1 + 0.5) / (1 + 0.5) + 1) *
      (k1 + 1) / (1 + k1 * (1 - b + b * 3 / 1.0))
    assert(s.keySet == Set(3L))
    assert(math.abs(s(3L) - expected) < 1e-12, s"$s vs $expected")
  }

  test("Bm25.topK plan: no cache, no HOF filter, the counts kernel once " +
    "per scan of the docs") {
    val top = Bm25.topK(edgeDocs, "doc_id", "text", edgeTerms, 3)
    val plan = top.queryExecution.optimizedPlan
    assert(plan.collect { case r: InMemoryRelation => r }.isEmpty, plan)
    val exprs = plan.collect { case n => n.expressions }.flatten
    assert(!exprs.exists(_.exists(_.isInstanceOf[ArrayFilter])), plan)
    val kernels = exprs.map(_.collect { case k: Bm25TermCounts => k }.size).sum
    val scans = plan.collectLeaves().size
    assert(scans == 2, plan) // the stats aggregate and the scoring scan
    assert(kernels == scans, s"Bm25TermCounts evaluated $kernels times " +
      s"over $scans scans:\n$plan")
    assert(top.collect().length == 3)
  }

  test("denseTopK returns nearest vectors by cosine, rounded, id-tiebroken") {
    val cands = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Array(1.0f, 0.0f))).toDF("qe")
    val out = VectorSearch.denseTopK(cands, q, "vec_id", "embedding", "qe", 2)
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L, 2L))
  }

  test("knnJoin gives each query its own ranked neighbor list") {
    val cands = Seq(
      (10L, Array(1.0f, 0.0f)), (11L, Array(0.0f, 1.0f)),
      (12L, Array(0.7f, 0.7f))
    ).toDF("cid", "ce")
    val qs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))
    ).toDF("qid", "qe")
    val out = VectorSearch.knnJoin(cands, qs, "cid", "ce", "qid", "qe", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(out.filter(_._1 == 1L).sortBy(_._3).map(_._2).toSeq == Seq(10L, 12L))
    assert(out.filter(_._1 == 2L).sortBy(_._3).map(_._2).toSeq == Seq(11L, 12L))
  }

  test("bm25 scores rarer terms higher at equal tf") {
    // 'rare' appears in 1 of 4 docs; 'common' in all 4
    val docs = Seq(
      (1L, "rare common alpha beta"), (2L, "common alpha beta gamma"),
      (3L, "common beta gamma delta"), (4L, "common gamma delta alpha")
    ).toDF("doc_id", "text")
    val s = Bm25.score(docs, "doc_id", "text", Seq("rare", "common"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(1L) > s(2L)) // doc 1 has the rare term
  }

  test("rrf fuses two rankings with the 0.6/0.4 reference weights") {
    val dense = Seq((101L, 1L), (102L, 2L)).toDF("doc_id", "rank")
    val sparse = Seq((102L, 1L), (103L, 2L)).toDF("doc_id", "rank")
    val out = Fusion.rrf(dense, sparse, "doc_id", "rank", 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // 102 appears in both lists -> highest fused score
    assert(out(102L) > out(101L) && out(102L) > out(103L))
    // 102: dense rank 2, sparse rank 1
    val expected102 = BigDecimal(0.6 / 62 + 0.4 / 61)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(out(102L) - expected102) < 1e-9)
  }

  /** The full-outer-join RRF that Fusion.rrf replaced, kept as its
    * oracle; the ranks are the last sort keys, as in Fusion.rrf, so a
    * tie at k has one answer.
    */
  private def rrfJoin(dense: DataFrame, sparse: DataFrame,
      idCol: String, rankCol: String, k: Int): DataFrame = {
    val d = dense.select(col(idCol), col(rankCol).as("dense_rank"))
    val s = sparse.select(col(idCol), col(rankCol).as("sparse_rank"))
    d.join(s, Seq(idCol), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(Fusion.DenseWeight) / (lit(Fusion.RrfK) + col("dense_rank")), lit(0.0)) +
          coalesce(lit(Fusion.SparseWeight) / (lit(Fusion.RrfK) + col("sparse_rank")), lit(0.0)), 6))
      .orderBy(col("rrf_score").desc, col(idCol), col("dense_rank"), col("sparse_rank"))
      .limit(k)
      .select(col(idCol), col("dense_rank"), col("sparse_rank"), col("rrf_score"))
  }

  /** One RRF input list: ids drawn from `ids` (duplicates and NULLs
    * included), 1-based ranks that are either positions or drawn with
    * repeats (rank ties).
    */
  private def genLeg(ids: Gen[Option[Long]]): Gen[List[(Option[Long], Long)]] =
    for {
      n <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.chooseNum(1, 25))
      xs <- Gen.listOfN(n, ids)
      tied <- Gen.oneOf(false, true)
      rs <- Gen.listOfN(n, Gen.chooseNum(1L, math.max(1L, n / 2L)))
    } yield xs.zip(if (tied) rs.sorted else (1L to n.toLong).toList)

  private val genRrfCase = {
    def ids(lo: Long, hi: Long) = Gen.frequency(
      12 -> Gen.chooseNum(lo, hi).map(Option(_)), 1 -> Gen.const(None))
    for {
      overlap <- Gen.oneOf(true, false)
      d <- genLeg(ids(0L, 30L))
      s <- genLeg(if (overlap) ids(0L, 30L) else ids(100L, 130L))
      k <- Gen.chooseNum(1, 30)
      stringIds <- Gen.oneOf(false, true)
      intRanks <- Gen.oneOf(false, true)
    } yield (d, s, k, stringIds, intRanks)
  }

  test("driver rrf equals the full outer join oracle row for row and " +
    "schema for schema (ScalaCheck: overlap, disjoint, empty, duplicate " +
    "and NULL ids, ties at k)") {
    // fixed seeds, as in PropertySpec: a failure must reproduce
    (1L to 40L).foreach { seed =>
      val (d, s, k, stringIds, intRanks) =
        genRrfCase.pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))
      val (idType, rankType) = (if (stringIds) StringType else LongType,
        if (intRanks) IntegerType else LongType)
      def frame(leg: List[(Option[Long], Long)], rt: DataType) = spark.createDataFrame(
        java.util.Arrays.asList(leg.map { case (id, r) =>
          Row(id.map(x => if (stringIds) s"x$x" else x).orNull,
            if (rt == IntegerType) Int.box(r.toInt) else Long.box(r)) }: _*),
        StructType(Seq(StructField("doc_id", idType), StructField("rank", rt))))
      // the rank types may differ between the legs
      val (df, sf) = (frame(d, rankType), frame(s, LongType))
      val got = Fusion.rrf(df, sf, "doc_id", "rank", k)
      val want = rrfJoin(df, sf, "doc_id", "rank", k)
      assert(got.schema == want.schema, s"seed $seed")
      assert(got.collect().toSeq == want.collect().toSeq,
        s"seed $seed: dense $d, sparse $s, k $k")
    }
  }

  test("rrf refuses a leg over MaxLegRows, rethrows a leg's failure, " +
    "and runs the dense leg under the caller's job group") {
    def legOf(n: Long) = spark.range(1, n + 1).select(col("id").as("doc_id"), col("id").as("rank"))
    val over = legOf(Fusion.MaxLegRows + 1L)
    val atBound = legOf(Fusion.MaxLegRows)
    val small = Seq((1L, 1L)).toDF("doc_id", "rank")
    intercept[IllegalArgumentException](Fusion.rrf(over, small, "doc_id", "rank", 5))
    intercept[IllegalArgumentException](Fusion.rrf(small, over, "doc_id", "rank", 5))
    assert(Fusion.rrf(atBound, small, "doc_id", "rank", 5).count() == 5)
    val big = (1L to 11L).map(i => (i, i)).toDF("doc_id", "rank")
    val failing = small.withColumn("rank",
      when(col("rank") > 0, raise_error(lit("dense leg failed"))).cast("long"))
    val e = intercept[Exception](Fusion.rrf(failing, small, "doc_id", "rank", 5))
    assert(e.getMessage.contains("dense leg failed"), e)
    // parquet-backed top-k legs: each collect runs one job, and both
    // must carry the group set on the calling thread
    val dir = java.nio.file.Files.createTempDirectory("rrf_legs").toString
    big.write.mode("overwrite").parquet(dir)
    val leg = spark.read.parquet(dir).orderBy(col("rank")).limit(8)
    val group = s"rrf-legs-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "rrf legs")
      val out = Fusion.rrf(leg, leg.where(col("doc_id") > 5), "doc_id", "rank", 3)
      spark.sparkContext.clearJobGroup()
      assert(out.collect().map(_.getLong(0)).toSeq == Seq(6L, 7L, 8L))
      ListenerBusShim.flush(spark.sparkContext)
      assert(jobs.get == 2, s"${jobs.get} jobs in the caller's group")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def vecDots(plan: LogicalPlan): Int =
    plan.collect { case n => n.expressions }.flatten
      .map(_.collect { case v: VecDot => v }.size).sum

  /** A 3-file parquet candidate table, so the scan has 3 partitions. */
  private def vecTable(n: Int): DataFrame = {
    val rng = new scala.util.Random(11)
    val dir = java.nio.file.Files.createTempDirectory("dense_cands").toString
    (0 until n).map(i => (i.toLong, Array.fill(8)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding").repartition(3).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("denseTopK plan: one vec_dot, no join, no broadcast; a local query " +
    "runs in one single-stage job over a multi-partition scan") {
    val cands = vecTable(300)
    val q = Seq(Tuple1(Array(0.3f, -0.2f, 0.9f, 0.1f, 0.0f, 0.5f, -0.4f, 0.2f))).toDF("qe")
    val top = VectorSearch.denseTopK(cands, q, "vec_id", "embedding", "qe", 5)
    val plan = top.queryExecution.optimizedPlan
    assert(vecDots(plan) == 1, plan)
    assert(plan.collect { case j: Join => j }.isEmpty, plan)
    assert(top.queryExecution.executedPlan.collect { case b: BroadcastExchangeExec => b }.isEmpty)
    val group = s"dense-jobs-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          stages.addAndGet(j.stageInfos.size): Unit
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "denseTopK")
      val rows = VectorSearch.denseTopK(cands, q, "vec_id", "embedding", "qe", 5).collect()
      spark.sparkContext.clearJobGroup()
      assert(rows.length == 5)
      ListenerBusShim.flush(spark.sparkContext)
      assert(jobs.get == 1 && stages.get == 1, s"${jobs.get} jobs, ${stages.get} stages")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("knnJoin plan: one vec_dot; undefined cosines never surface and " +
    "never shift a kept rank") {
    val cands = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0.0f, 0.0f)),
      (4L, Array(Float.NaN, 1.0f)), (5L, Array(1.0f, 0.0f, 0.0f)), (6L, null)
    ).toDF("cid", "ce")
    val qs = Seq((7L, Array(1.0f, 0.0f)), (8L, Array(0.0f, 0.0f))).toDF("qid", "qe")
    val knn = VectorSearch.knnJoin(cands, qs, "cid", "ce", "qid", "qe", 4)
    assert(vecDots(knn.queryExecution.optimizedPlan) == 1, knn.queryExecution.optimizedPlan)
    // query 8 is zero-norm: no row; query 7 keeps its two defined
    // cosines at ranks 1 and 2
    assert(knn.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq ==
      Seq((7L, 1L, 1L), (7L, 2L, 2L)))
  }

  test("single-query search: a multi-row query frame is refused; an empty " +
    "frame or a null, zero-norm, NaN or wrong-length vector answers nothing") {
    val vecs = (0 until 40).map { i =>
      val angle = (i % 4) * math.Pi / 2 + (i / 40.0) * 0.1
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat), i % 4)
    }.toDF("vec_id", "embedding", "label")
    val cents = VectorSearch.centroidArrays(vecs, "label", "embedding")
    val assigned = VectorSearch.assignCells(vecs.select(col("vec_id"), col("embedding")),
      cents, "vec_id", "embedding", "label")
    val searches: Seq[(String, DataFrame => DataFrame)] = Seq(
      "denseTopK" -> (q => VectorSearch.denseTopK(vecs, q, "vec_id", "embedding", "qe", 5)),
      "annIvf" -> (q => VectorSearch.annIvf(vecs, q, cents, "vec_id", "embedding", "qe",
        "label", nprobe = 2, k = 5)),
      "annIvfProbe" -> (q => VectorSearch.annIvfProbe(assigned, q, cents, "vec_id",
        "embedding", "qe", "label", nprobe = 2, k = 5)))
    val two = Seq(Tuple1(Array(1.0f, 0.0f)), Tuple1(Array(0.0f, 1.0f))).toDF("qe")
    val degenerate = Seq(
      "empty" -> Seq.empty[Tuple1[Array[Float]]].toDF("qe"),
      "null" -> Seq(Tuple1(null.asInstanceOf[Array[Float]])).toDF("qe"),
      "zero-norm" -> Seq(Tuple1(Array(0.0f, 0.0f))).toDF("qe"),
      "NaN" -> Seq(Tuple1(Array(Float.NaN, 1.0f))).toDF("qe"),
      "wrong-length" -> Seq(Tuple1(Array(1.0f, 0.0f, 0.0f))).toDF("qe"))
    searches.foreach { case (name, search) =>
      intercept[IllegalArgumentException](search(two))
      degenerate.foreach { case (what, q) =>
        assert(search(q).collect().isEmpty, s"$name answered a $what query")
      }
      assert(search(Seq(Tuple1(Array(1.0f, 0.0f))).toDF("qe")).collect().length == 5, name)
    }
  }

  test("annIvf finds the same top results as brute force when probing enough cells") {
    val vecs = (0 until 40).map { i =>
      val angle = (i % 4) * math.Pi / 2 + (i / 40.0) * 0.1
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat), i % 4)
    }.toDF("vec_id", "embedding", "label")
    val cents = VectorSearch.centroidArrays(vecs, "label", "embedding")
    val q = vecs.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    val ivf = VectorSearch.annIvf(vecs, q, cents, "vec_id", "embedding", "qe",
      "label", nprobe = 4, k = 5).collect().map(_.getLong(0)).toSet
    val brute = VectorSearch.denseTopK(vecs, q, "vec_id", "embedding", "qe", 5)
      .collect().map(_.getLong(0)).toSet
    assert(ivf == brute) // nprobe = all cells -> exact
  }

  test("zero-norm vectors are excluded, never top-ranked or crashing") {
    val cands = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f)) // zero norm -> NaN cosine
    ).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Array(1.0f, 0.0f))).toDF("qe")
    val top = VectorSearch.denseTopK(cands, q, "vec_id", "embedding", "qe", 3)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L)) // 3 dropped, not first
    val qs = Seq((7L, Array(1.0f, 0.0f))).toDF("qid", "qe")
    val knn = VectorSearch.knnJoin(
      cands.toDF("cid", "ce"), qs, "cid", "ce", "qid", "qe", 3)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(knn.map(_._1).toSeq == Seq(1L, 2L)) // deterministic, no NaN
  }

  test("lloydCentroids recovers well-separated direction clusters") {
    // 3 tight direction bundles; ids interleaved so init picks one
    // seed per bundle (ids 0, 1, 2 point in 3 different directions)
    val dirs = Seq((1.0, 0.0), (0.0, 1.0), (-1.0, 0.0))
    val vecs = (0 until 30).map { i =>
      val (dx, dy) = dirs(i % 3)
      val wob = 0.05 * ((i / 3) % 5 - 2)
      (i.toLong, Array((dx + wob).toFloat, (dy + wob).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = VectorSearch.lloydCentroids(vecs, "vec_id", "embedding", 3, 3)
    assert(cents.count() == 3)
    val assigned = VectorSearch.assignCells(vecs, cents, "vec_id", "embedding", "cell")
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("cell")).toMap
    // members of the same bundle land in the same cell
    for (g <- 0 until 3) {
      val cells = (g until 30 by 3).map(assigned(_)).toSet
      assert(cells.size == 1, s"bundle $g split across $cells")
    }
    // and different bundles in different cells
    assert((0 until 3).map(assigned(_)).toSet.size == 3)
  }

  test("annIvf assignment stays narrow: no Window in the physical plan") {
    // regression guard for the 100 TB path — centroid assignment must
    // be a per-row fold over the broadcast centroid array, never a
    // crossJoin + row_number window (which exchanges |corpus|·K rows)
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array((i % 3).toFloat, 1.0f), i % 3)
    }.toDF("vec_id", "embedding", "label")
    val cents = VectorSearch.centroidArrays(vecs, "label", "embedding")
    val q = vecs.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    val plan = VectorSearch.annIvf(vecs, q, cents, "vec_id", "embedding", "qe",
      "label", nprobe = 2, k = 3).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"))
  }

  test("annIvfProbe over a persisted cell-partitioned index: identical " +
    "results to annIvf, zero shuffle, un-probed cells partition-pruned") {
    // the production regime: assignment ran at ingest, the (id, vec,
    // cnrm, cell) rows live partitioned by cell, the codebook is a
    // persisted k-row table — a query probes without re-assigning or
    // re-training anything
    val vecs = (0 until 40).map { i =>
      val angle = (i % 4) * math.Pi / 2 + (i / 40.0) * 0.1
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat), i % 4)
    }.toDF("vec_id", "embedding", "label")
    val cents = VectorSearch.centroidArrays(vecs, "label", "embedding")
    val q = vecs.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    val assigned = VectorSearch.assignCells(
      vecs.select(col("vec_id"), col("embedding")), cents,
      "vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("ivf_idx")
    val (idxDir, cDir) = (s"$tmp/index", s"$tmp/codebook")
    graft.sources.Corpus.writePartitioned(assigned, idxDir, Seq("cell"))
    cents.write.parquet(cDir)
    val probe = VectorSearch.annIvfProbe(
      spark.read.parquet(idxDir), q, spark.read.parquet(cDir),
      "vec_id", "embedding", "qe", "label", nprobe = 2, k = 5)
    val direct = VectorSearch.annIvf(vecs, q, cents,
      "vec_id", "embedding", "qe", "label", nprobe = 2, k = 5)
    assert(probe.collect().toSeq == direct.collect().toSeq)
    val plan = probe.queryExecution.executedPlan.toString
    // the index side must not shuffle (the query is the broadcast
    // side; top-k is TakeOrderedAndProject) ...
    assert(!plan.contains("ShuffleExchange") &&
      !plan.contains("Exchange hashpartitioning"), plan)
    // ... nor re-assign (the NearestCell pass is the INGEST step,
    // absent from the probe plan)
    assert(!plan.contains("nearest_cell"), plan)
    // the two-phase probe's static cell list is a PARTITION filter:
    // un-probed cells' files are skipped at listing time — a query
    // reads nprobe/K of the lake, not all of it
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(l => l.contains("cell") && l.contains("IN (")),
      s"no static cell partition filter:\n$plan")
  }

  test("mmrRerank alternates clusters; lambda=1 degenerates to top-k") {
    // query between two tight clusters (A: ids 1,2; B: ids 10,11),
    // leaning toward A — pure relevance ranks (2, 1, 11); MMR at
    // lambda .5 must interleave a B pick at step 2 (within-cluster
    // sims ~0.999 crush the second same-cluster pick's score)
    val cands = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.98f, 0.05f, 0.0f)),
      (10L, Array(0.0f, 1.0f, 0.0f)), (11L, Array(0.05f, 0.98f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Array(0.8f, 0.6f, 0.0f))).toDF("qe")
    val mmr = VectorSearch.mmrRerank(cands, q, "vec_id", "embedding",
      "qe", candK = 4, k = 3, lambda = 0.5)
      .orderBy(col("pick_order"))
      .collect().map(_.getLong(0)).toSeq
    assert(mmr.head == 2L) // first pick is pure relevance
    assert(mmr(1) == 10L, s"step 2 should cross clusters: $mmr")
    // lambda = 1.0: no diversity penalty -> plain relevance order
    val pure = VectorSearch.mmrRerank(cands, q, "vec_id", "embedding",
      "qe", candK = 4, k = 3, lambda = 1.0)
      .orderBy(col("pick_order"))
      .collect().map(_.getLong(0)).toSeq
    assert(pure == Seq(2L, 1L, 11L))
    // guards refuse rather than silently collecting a corpus
    intercept[IllegalArgumentException] {
      VectorSearch.mmrRerank(cands, q, "vec_id", "embedding", "qe",
        candK = 1000, k = 3, lambda = 0.5)
    }
    intercept[IllegalArgumentException] {
      VectorSearch.mmrRerank(cands, q, "vec_id", "embedding", "qe",
        candK = 5, k = 3, lambda = 1.5)
    }
  }

  test("mmrRerank accepts array<double> embeddings like the rest of " +
    "the vector surface") {
    // same geometry as the float spec above, as doubles — the
    // collect-side read must go through asDouble, not a Float cast
    val cands = Seq(
      (1L, Array(1.0, 0.0, 0.0)), (2L, Array(0.98, 0.05, 0.0)),
      (10L, Array(0.0, 1.0, 0.0)), (11L, Array(0.05, 0.98, 0.0))
    ).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Array(0.8, 0.6, 0.0))).toDF("qe")
    val mmr = VectorSearch.mmrRerank(cands, q, "vec_id", "embedding",
      "qe", candK = 4, k = 3, lambda = 0.5)
      .orderBy(col("pick_order"))
      .collect().map(_.getLong(0)).toSeq
    assert(mmr.head == 2L && mmr(1) == 10L, s"unexpected order: $mmr")
  }

  test("embHealth counts zero/NaN/null vectors per group and keeps " +
    "norm stats over healthy rows only") {
    val rows = Seq(
      (1L, Array(3.0f, 4.0f), "a"), // norm 5, healthy
      (2L, Array(0.0f, 0.0f), "a"), // zero vector
      (3L, Array(Float.NaN, 1.0f), "a"), // NaN component
      (4L, Array(1.0f, 0.0f), "b") // norm 1, healthy
    ).toDF("vec_id", "embedding", "label")
      // null component (exists(isnan) alone returns NULL here — the
      // r14-advice silent-drop row) and a NULL vector outright
      .unionByName(Seq((5L, "a"), (6L, "b")).toDF("vec_id", "label")
        .withColumn("embedding",
          when(col("vec_id") === 5L,
            array(lit(null).cast("float"), lit(2.0f)))))
      .select("vec_id", "embedding", "label")
    val out = VectorSearch.embHealth(rows, "vec_id", "embedding", "label")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a")
    assert(a.getAs[Long]("n_vecs") == 4L)
    assert(a.getAs[Long]("n_zero") == 1L && a.getAs[Long]("n_nan") == 1L)
    assert(a.getAs[Long]("n_null") == 1L)
    assert(a.getAs[Long]("dim_min") == 2L && a.getAs[Long]("dim_max") == 2L)
    // the zero, NaN, and null rows must NOT drag the norm stats:
    // only the healthy (3,4) vector contributes
    assert(a.getAs[Double]("avg_norm") == 5.0)
    assert(a.getAs[Double]("min_norm") == 5.0)
    assert(a.getAs[Double]("max_norm") == 5.0)
    val b = out("b")
    assert(b.getAs[Long]("n_vecs") == 2L)
    assert(b.getAs[Long]("n_zero") == 0L && b.getAs[Long]("n_nan") == 0L)
    assert(b.getAs[Long]("n_null") == 1L) // the NULL-vector row
    assert(b.getAs[Double]("avg_norm") == 1.0)
    // every row lands in exactly one class: healthy = n_vecs - others
    Seq(a, b).foreach { r =>
      assert(r.getAs[Long]("n_zero") + r.getAs[Long]("n_nan") +
        r.getAs[Long]("n_null") < r.getAs[Long]("n_vecs"))
    }
  }

  test("embDrift flags centroid rotation between snapshots; identical " +
    "groups read stable at cosine 1.0; zero centroids are degenerate") {
    val oldE = Seq(
      (1L, Array(1.0f, 0.0f), "a"), (2L, Array(1.0f, 0.2f), "a"),
      (3L, Array(0.0f, 1.0f), "b"), (4L, Array(0.2f, 1.0f), "b"),
      (5L, Array(0.0f, 0.0f), "z")
    ).toDF("vec_id", "embedding", "label")
    // a unchanged; b rotated 90°; z stays all-zero (no defined cosine)
    val newE = Seq(
      (1L, Array(1.0f, 0.0f), "a"), (2L, Array(1.0f, 0.2f), "a"),
      (3L, Array(1.0f, 0.0f), "b"), (4L, Array(1.0f, -0.2f), "b"),
      (5L, Array(0.0f, 0.0f), "z")
    ).toDF("vec_id", "embedding", "label")
    val out = VectorSearch
      .embDrift(oldE, newE, "label", "embedding", minCos = 0.9)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getAs[String]("status") == "stable")
    assert(out("a").getAs[Double]("centroid_cos") == 1.0)
    assert(out("a").getAs[Long]("n_old") == 2L &&
      out("a").getAs[Long]("n_new") == 2L)
    assert(out("b").getAs[String]("status") == "drifted")
    assert(out("b").getAs[Double]("centroid_cos") < 0.2)
    assert(out("z").getAs[String]("status") == "degenerate")
    intercept[IllegalArgumentException] {
      VectorSearch.embDrift(oldE, newE, "label", "embedding", 2.0)
    }
  }
}
