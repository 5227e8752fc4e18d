package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, BoundReference}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerBusShim
import org.apache.spark.sql.types._
import org.scalacheck.Gen

import graft.expressions.{CellBook, NearestCell}
import graft.functions.VectorFns
import graft.operators.{Pq, VectorSearch}

/** IVF and PQ with the codebook on the driver: the NearestCell kernel
  * against the `aggregate` folds it replaced (cosine and L2), the
  * driver-side Lloyd loop against its window-seeded twin under both
  * objectives, the driver probe ranking against Spark's
  * `orderBy(pcos.desc, cell).limit(nprobe)`, and the jobs and plans of
  * the probe and assignment paths.
  */
class IvfSpec extends SparkSpec {

  /** HOF twin of `VectorSearch.assignCells`: the codebook folds into one
    * broadcast array of (cell, centroid, norm) structs sorted by
    * `array_sort`, and each row runs the interpreted `aggregate` fold
    * (strict `>` on the 6 dp cosine, NULL skipped) over it.
    */
  private def assignCellsHof(candidates: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, groupCol: String): DataFrame = {
    val cents = centroids
      .select(col(groupCol).as("cgroup"), col("centroid"))
      .withColumn("gnrm", VectorFns.l2Norm(col("centroid")))
    val cellType = centroids.schema(groupCol).dataType
    val centsArr = cents.agg(
      array_sort(collect_list(struct(col("cgroup"), col("centroid"), col("gnrm"))))
        .as("cents"))
    candidates
      .withColumn("cnrm", VectorFns.l2Norm(col(vecCol)))
      .crossJoin(broadcast(centsArr))
      .withColumn("best", aggregate(
        col("cents"),
        struct(lit(Double.NegativeInfinity).as("acos"),
          lit(null).cast(cellType).as("cell")),
        (acc, c) => {
          val acos = round(VectorFns.cosinePrenormed(
            col(vecCol), c.getField("centroid"),
            col("cnrm"), c.getField("gnrm")), 6)
          when(acos > acc.getField("acos"),
            struct(acos.as("acos"), c.getField("cgroup").as("cell")))
            .otherwise(acc)
        }))
      .select(col(idCol), col(vecCol), col("cnrm"),
        col("best").getField("cell").as("cell"))
  }

  /** HOF twin of the L2 objective — the fold Pq trained and encoded
    * with before NearestCell took an L2 book: the codebook folds into
    * one broadcast array of (cell, centroid, normSq) structs sorted by
    * `array_sort`, and each row runs the interpreted `aggregate` fold
    * (strict `>` on `round(dot − normSq / 2, 6)`, NULL skipped) over it.
    */
  private def assignL2Hof(candidates: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, groupCol: String): DataFrame = {
    val cellType = centroids.schema(groupCol).dataType
    val centsArr = centroids
      .select(col(groupCol).as("cgroup"), col("centroid"),
        VectorFns.normSq(col("centroid")).as("cnsq"))
      .agg(array_sort(collect_list(struct(col("cgroup"), col("centroid"), col("cnsq"))))
        .as("cents"))
    candidates
      .crossJoin(broadcast(centsArr))
      .withColumn("best", aggregate(
        col("cents"),
        struct(lit(Double.NegativeInfinity).as("score"),
          lit(null).cast(cellType).as("cell")),
        (acc, c) => {
          val score = round(VectorFns.dot(col(vecCol), c.getField("centroid"))
            - c.getField("cnsq") / 2.0, 6)
          when(score > acc.getField("score"),
            struct(score.as("score"), c.getField("cgroup").as("cell")))
            .otherwise(acc)
        }))
      .select(col(idCol), col(vecCol), col("best").getField("cell").as("cell"))
  }

  /** Per objective: the HOF twin, and the kernel's (id, vec, cnrm,
    * cell) — assignCells under cosine, under L2 a NearestCell
    * projection with the literal `cnrm` an L2 book does not read.
    */
  private val objectives: Seq[(CellBook.Objective, (DataFrame, DataFrame) => DataFrame,
      (DataFrame, DataFrame) => DataFrame)] = Seq(
    (CellBook.Cosine, assignCellsHof(_, _, "id", "vec", "cell"),
      VectorSearch.assignCells(_, _, "id", "vec", "cell")),
    (CellBook.L2, assignL2Hof(_, _, "id", "vec", "cell"),
      (vecs, cents) => vecs.select(col("id"), col("vec"), lit(0.0).as("cnrm"),
        VectorSearch.nearestCell(col("vec"), VectorSearch.cellBook(cents, "cell", CellBook.L2))
          .as("cell"))))

  private val (nan, inf) = (Double.NaN, Double.PositiveInfinity)

  /** Edge vectors (2-d unless stated): ties, NaN and ±Inf components,
    * zero-cosine (orthogonal) cases, a null vector, a null element, a
    * zero norm and a wrong length.
    */
  private val edgeVecs: Seq[Seq[Any]] = Seq(
    Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0), Seq(-1.0, 0.0), Seq(0.0, -1.0),
    Seq(0.6, 0.8), Seq(1.0, -1.0), Seq(1e-3, -1e-3), Seq(3.0, 1e-7),
    Seq(0.0, 0.0), null, Seq(null, 1.0), Seq(1.0, 0.0, 0.0),
    Seq(nan, 1.0), Seq(inf, 1.0), Seq(-inf, 0.0), Seq(inf, inf), Seq(1e300, 1e300))

  /** Edge codebooks as (cell index, centroid) — ties, equal directions
    * at different norms, orthogonal pairs (0.0 cosines on both sides),
    * null / zero / wrong-length / null-element / NaN / Inf centroids, a
    * duplicated cell, and the empty codebook.
    */
  private val edgeBooks: Seq[(String, Seq[(Int, Seq[Any])])] = Seq(
    "axes" -> Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0), 2 -> Seq(-1.0, 0.0), 3 -> Seq(0.0, -1.0)),
    "ties" -> Seq(3 -> Seq(1.0, 1.0), 1 -> Seq(1.0, 1.0), 2 -> Seq(2.0, 2.0), 0 -> Seq(-1.0, 0.0)),
    "orthogonal" -> Seq(5 -> Seq(0.0, 1.0), 2 -> Seq(0.0, -1.0)),
    "undefined" -> Seq(0 -> null, 1 -> Seq(0.0, 0.0), 2 -> Seq(1.0, 0.0, 0.0),
      3 -> Seq(0.5, 0.5), 4 -> Seq(null, 1.0), 5 -> Seq(nan, 1.0), 6 -> Seq(inf, 0.0),
      7 -> Seq(-0.5, 0.5)),
    "duplicate" -> Seq(1 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0), 0 -> Seq(-1.0, -1.0)),
    "empty" -> Nil)

  /** Cell values of each type; the strings sort differently from their
    * indices ("c10" < "c9"), so the string case checks string order.
    */
  private val cellTypes: Seq[(DataType, Int => Any)] = Seq(
    IntegerType -> ((i: Int) => i * 3), LongType -> ((i: Int) => 10L - i),
    StringType -> ((i: Int) => s"c${if (i % 2 == 0) 10 + i else i}"))

  private def vecFrame(elem: DataType): DataFrame = {
    def cast(v: Seq[Any]) = if (v == null) null else v.map {
      case null => null
      case x: Double if elem == FloatType => x.toFloat
      case x => x
    }
    val dir = java.nio.file.Files.createTempDirectory("ivf_edge").toString
    spark.createDataFrame(java.util.Arrays.asList(edgeVecs.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, cast(v)) }: _*), StructType(Seq(StructField("id", LongType),
      StructField("vec", ArrayType(elem)))))
      .repartition(2).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def bookFrame(book: Seq[(Int, Seq[Any])], cellType: DataType,
      cell: Int => Any): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(book.map { case (c, v) => Row(cell(c), v) }: _*),
      StructType(Seq(StructField("cell", cellType), StructField("centroid", ArrayType(DoubleType)))))

  private def nearestCells(plan: LogicalPlan): Int =
    plan.collect { case n => n.expressions }.flatten
      .map(_.collect { case e: NearestCell => e }.size).sum

  test("NearestCell equals the aggregate fold on every edge vector and " +
    "codebook, through whole-stage codegen, a strict projection and eval") {
    Seq(FloatType, DoubleType).foreach { elem =>
      val vecs = vecFrame(elem)
      for ((objective, twin, kernel) <- objectives; (bookName, book) <- edgeBooks;
           (cellType, cell) <- cellTypes) {
        val cents = bookFrame(book, cellType, cell)
        val what = s"$objective: $bookName codebook, ${cellType.sql} cells, ${elem.sql} vectors"
        val want = twin(vecs, cents).select("id", "cell").collect()
          .map(r => r.getLong(0) -> r.get(1)).toMap
        val assigned = kernel(vecs, cents)
        val got = assigned.collect()
        assert(got.map(r => r.getLong(0) -> r.get(3)).toMap == want, what)
        assert(assigned.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec =>
          w }.exists(_.child.exists(_.expressions.exists(_.exists(_.isInstanceOf[NearestCell])))),
          s"$what: the kernel is not inside whole-stage codegen")
        // the generated code compiled strictly (an error throws instead
        // of falling back) and the interpreted path, row by row
        val expr = NearestCell(BoundReference(0, ArrayType(elem), nullable = true),
          BoundReference(1, DoubleType, nullable = true),
          VectorSearch.cellBook(cents, "cell", objective))
        val generated = GenerateUnsafeProjection.generate(Seq(expr))
        val toCatalyst = CatalystTypeConverters.createToCatalystConverter(cellType)
        got.foreach { r =>
          val v = Option(r.getSeq[Any](1)).map(s => new GenericArrayData(s.toArray)).orNull
          val row = InternalRow(v, r.get(2))
          val expected = toCatalyst(want(r.getLong(0)))
          val gen = generated(row)
          assert((if (gen.isNullAt(0)) null else gen.get(0, cellType)) == expected,
            s"$what: generated cell differs on row ${r.getLong(0)}")
          assert(expr.eval(row) == expected, s"$what: interpreted cell differs on row ${r.getLong(0)}")
        }
      }
    }
    // spot values the twins agree on (int cells are index × 3)
    val vecs = vecFrame(DoubleType)
    def cellsOf(book: String, objective: CellBook.Objective = CellBook.Cosine) =
      objectives.find(_._1 == objective).get._3(vecs,
        bookFrame(edgeBooks.toMap.apply(book), IntegerType, _ * 3))
        .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    val axes = cellsOf("axes")
    assert(axes(0L).contains(0) && axes(1L).contains(3) && axes(3L).contains(6))
    assert(axes(2L).contains(0), "a tie keeps the smaller cell")
    Seq(9L, 10L, 11L, 12L).foreach(id => assert(axes(id).isEmpty, s"vector $id must get no cell"))
    assert(axes(13L).contains(0), "a NaN cosine beats every number")
    assert(cellsOf("ties")(0L).contains(3), "equal cosines resolve to the smallest cell")
    assert(cellsOf("orthogonal")(0L).contains(6), "0.0 cosines tie on the smaller cell")
    assert(cellsOf("empty").values.forall(_.isEmpty))
    val l2Axes = cellsOf("axes", CellBook.L2)
    assert(l2Axes(0L).contains(0) && l2Axes(1L).contains(3) && l2Axes(3L).contains(6))
    assert(l2Axes(9L).contains(0), "under L2 a zero vector gets the smallest of its tied cells")
    Seq(10L, 11L, 12L).foreach(id => assert(l2Axes(id).isEmpty, s"L2: vector $id must get no cell"))
    assert(cellsOf("ties", CellBook.L2)(0L).contains(3), "equal L2 scores resolve to the smallest cell")
    assert(cellsOf("ties", CellBook.L2)(17L).contains(6),
      "L2 weighs the norm: a long vector goes to the longer of two equal directions")
    assert(cellsOf("empty", CellBook.L2).values.forall(_.isEmpty))
  }

  private val specialCos: Gen[Any] = Gen.frequency(
    2 -> Gen.const(null), 1 -> Gen.const(Double.NaN), 1 -> Gen.const(Double.PositiveInfinity),
    1 -> Gen.const(Double.NegativeInfinity), 2 -> Gen.const(0.0), 2 -> Gen.const(-0.0),
    3 -> Gen.oneOf(0.5, -0.5, 0.123456, 1.0, -1.0),
    3 -> Gen.chooseNum(-1.0, 1.0).map(x => math.rint(x * 1e6) / 1e6))

  private val genRankCase = for {
    n <- Gen.chooseNum(0, 20)
    cellKind <- Gen.chooseNum(0, 2)
    cells <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(-1), 12 -> Gen.chooseNum(0, 12)))
    cos <- Gen.listOfN(n, specialCos)
    nprobe <- Gen.chooseNum(0, n + 2)
  } yield (cellKind, cells, cos, nprobe)

  test("driver probe ranking equals orderBy(pcos.desc, cell).limit(nprobe) " +
    "(ScalaCheck: NULL, NaN, ±Inf and ±0.0 scores, ties, duplicate and " +
    "NULL cells, int/long/string cells)") {
    // fixed seeds, as in PropertySpec: a failure must reproduce
    (1L to 60L).foreach { seed =>
      val (cellKind, cells, cos, nprobe) =
        genRankCase.pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))
      val (cellType, cell) = Seq[(DataType, Int => Any)](IntegerType -> (i => i),
        LongType -> (i => -3L * i), StringType -> (i => s"c$i"))(cellKind)
      val pairs = cells.zip(cos).map { case (c, s) => (if (c < 0) null else cell(c), s) }
      val frame = spark.createDataFrame(java.util.Arrays.asList(pairs.map { case (c, s) =>
        Row(c, s) }: _*), StructType(Seq(StructField("cgroup", cellType),
        StructField("pcos", DoubleType))))
      val want = frame.orderBy(col("pcos").desc, col("cgroup")).limit(nprobe)
        .collect().map(_.get(0)).toSeq
      assert(VectorSearch.rankCells(cellType, pairs, nprobe) == want,
        s"seed $seed: pairs $pairs, nprobe $nprobe")
    }
  }

  /** Jobs started under a fresh job group while `body` runs. */
  private def jobsOf(body: => Any): Int = {
    val group = s"ivf-jobs-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "ivf")
      try body finally spark.sparkContext.clearJobGroup()
      ListenerBusShim.flush(spark.sparkContext)
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** A 3-file parquet table of 8-d float vectors and a local 6-cell
    * codebook drawn from its rows.
    */
  private lazy val (ivfTable, localBook) = {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val dir = java.nio.file.Files.createTempDirectory("ivf_cands").toString
    val rows = (0 until 240).map(i => (i.toLong, Array.fill(8)(rng.nextFloat() * 2 - 1)))
    rows.toDF("vec_id", "embedding").repartition(3).write.mode("overwrite").parquet(dir)
    val book = bookFrame(rows.take(6).zipWithIndex.map { case ((_, v), c) =>
      c -> v.toSeq.map(_.toDouble) }, IntegerType, identity)
    (spark.read.parquet(dir), book)
  }

  test("a local codebook and query: annIvfProbe and on-the-fly annIvf each " +
    "run one job; the cell filter stays above one NearestCell per row") {
    import spark.implicits._
    val q = Seq(Tuple1(Array(0.3f, -0.2f, 0.9f, 0.1f, 0.0f, 0.5f, -0.4f, 0.2f))).toDF("qe")
    val dir = java.nio.file.Files.createTempDirectory("ivf_index").toString
    graft.sources.Corpus.writePartitioned(VectorSearch.assignCells(ivfTable, localBook,
      "vec_id", "embedding", "cell"), dir, Seq("cell"))
    val index = spark.read.parquet(dir)
    def probe = VectorSearch.annIvfProbe(index, q, localBook, "vec_id", "embedding", "qe",
      "cell", nprobe = 2, k = 5)
    def direct = VectorSearch.annIvf(ivfTable, q, localBook, "vec_id", "embedding", "qe",
      "cell", nprobe = 2, k = 5)
    var (p, d) = (Array.empty[Row], Array.empty[Row])
    assert(jobsOf { p = probe.collect() } == 1)
    assert(jobsOf { d = direct.collect() } == 1)
    assert(p.length == 5 && p.toSeq == d.toSeq)
    assert(nearestCells(direct.queryExecution.optimizedPlan) == 1,
      direct.queryExecution.optimizedPlan)
  }

  test("assignCells plans no join, no broadcast and no aggregate fold") {
    val assigned = VectorSearch.assignCells(ivfTable, localBook, "vec_id", "embedding", "cell")
    val qe = assigned.queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty, qe.optimizedPlan)
    assert(qe.executedPlan.collect { case b: BroadcastExchangeExec => b }.isEmpty, qe.executedPlan)
    assert(qe.optimizedPlan.collect { case n => n.expressions }.flatten
      .forall(!_.exists(_.isInstanceOf[ArrayAggregate])), qe.optimizedPlan)
    assert(nearestCells(qe.optimizedPlan) == 1, qe.optimizedPlan)
    // the plan string names the kernel (SearchSpec's probe-plan check
    // reads it to show the persisted index is never re-assigned)
    assert(qe.executedPlan.toString.contains("nearest_cell"), qe.executedPlan)
  }

  test("lloydCentroids equals its window-seeded, HOF-assigned twin") {
    // the twin: row_number-numbered seeds and the aggregate fold,
    // each round's codebook rebuilt from the same long-form mean
    def twin(vectors: DataFrame, k: Int, iters: Int): DataFrame = {
      var cents = vectors.orderBy(col("vec_id")).limit(k)
        .withColumn("cell", (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("int"))
        .select(col("cell"), VectorFns.asDouble(col("embedding")).as("centroid"))
      for (_ <- 1 to iters)
        cents = VectorSearch.centroidArrays(assignCellsHof(vectors, cents, "vec_id",
          "embedding", "cell"), "cell", "embedding").select(col("cell"), col("centroid"))
      cents
    }
    def sorted(df: DataFrame) = df.collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq
    Seq((4, 2), (6, 3), (1, 1)).foreach { case (k, iters) =>
      val got = VectorSearch.lloydCentroids(ivfTable, "vec_id", "embedding", k, iters)
      assert(sorted(got) == sorted(twin(ivfTable, k, iters)), s"k $k, iters $iters")
    }
  }

  test("Pq.train's L2 Lloyd equals its window-seeded, HOF-assigned twin per subspace") {
    // the twin is Pq's former trainer: row_number-numbered seeds over
    // the sliced sub-vectors and the L2 aggregate fold, each round's
    // codebook rebuilt from the same long-form mean
    def twin(vectors: DataFrame, k: Int, iters: Int): DataFrame = {
      var cents = vectors.orderBy(col("vec_id")).limit(k)
        .withColumn("cell", (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("int"))
        .select(col("cell"), VectorFns.asDouble(col("subv")).as("centroid"))
      for (_ <- 1 to iters)
        cents = VectorSearch.centroidArrays(assignL2Hof(vectors, cents, "vec_id", "subv", "cell"),
          "cell", "subv").select(col("cell"), col("centroid"))
      cents
    }
    def sorted(df: DataFrame) = df.collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq
    val (dim, m) = (8, 2)
    Seq((4, 2), (6, 3), (1, 1)).foreach { case (k, iters) =>
      val books = Pq.train(ivfTable, "vec_id", "embedding", dim, m, k, iters)
      (0 until m).foreach { s =>
        val sub = ivfTable.select(col("vec_id"),
          slice(col("embedding"), s * dim / m + 1, dim / m).as("subv"))
        assert(sorted(books.where(col("sub") === s).select(col("cell"), col("centroid"))) ==
          sorted(twin(sub, k, iters)), s"k $k, iters $iters, sub $s")
      }
    }
  }

  /** Six clean vectors (ids 1–6) with each of `extra` below them (ids
    * −1, −2, …), so every extra vector sits at a seed position.
    */
  private def withExtras(clean: Seq[Seq[Any]], extra: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      (extra.zipWithIndex.map { case (v, i) => Row(-1L - i, v) } ++
        clean.zipWithIndex.map { case (v, i) => Row(i + 1L, v) }): _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))

  test("lloydCentroids trains on defined vectors only and refuses k < 1") {
    val clean: Seq[Seq[Any]] = Seq(Seq(1.0, 0.1, 0.0), Seq(0.0, 1.0, 0.1), Seq(0.1, 0.0, 1.0),
      Seq(0.9, 0.0, 0.1), Seq(0.1, 0.9, 0.0), Seq(0.0, 0.1, 0.9))
    def train(extra: Seq[Seq[Any]], k: Int = 3) = VectorSearch.lloydCentroids(
      withExtras(clean, extra), "vec_id", "embedding", k, iters = 2)
    def sorted(df: DataFrame) = df.collect().map(r => (r.get(0), r.getSeq[Double](1)))
      .sortBy(_._1.asInstanceOf[Int]).toSeq
    val want = sorted(train(Nil))
    assert(want.size == 3)
    // under cosine a zero vector is undefined too; at a seed position
    // it would seed a dead cell and add a [null, zero] row, and a NaN
    // seed would take every vector into one NaN cell
    val bad: Seq[(String, Seq[Any])] = Seq("zero" -> Seq(0.0, 0.0, 0.0),
      "NaN" -> Seq(nan, 1.0, 0.0), "+inf" -> Seq(inf, 0.0, 0.0), "null" -> null,
      "null element" -> Seq(null, 1.0, 0.0))
    bad.foreach { case (name, v) => assert(sorted(train(Seq(v))) == want, name) }
    assert(sorted(train(bad.map(_._2))) == want)
    Seq(0, -1).foreach(k => intercept[IllegalArgumentException](train(Nil, k)))
  }

  test("Pq.train's L2 Lloyd trains on vectors with a finite normSq only") {
    val clean: Seq[Seq[Any]] = Seq(Seq(1.0, 0.0, 2.0, 0.0), Seq(0.0, 1.0, 0.0, 2.0),
      Seq(-1.0, 0.0, -2.0, 0.0), Seq(0.9, 0.1, 2.1, 0.0), Seq(0.1, 0.9, 0.0, 1.9),
      Seq(-0.9, 0.0, -1.9, 0.1))
    def train(extra: Seq[Seq[Any]]) = Pq.train(withExtras(clean, extra), "vec_id",
      "embedding", dim = 4, m = 2, k = 3, iters = 2)
    def sorted(df: DataFrame) = df.collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2))).sortBy(_._1).toSeq
    val want = sorted(train(Nil))
    assert(want.size == 6)
    // every bad vector is bad in both subspaces (m = 2)
    val bad: Seq[(String, Seq[Any])] = Seq("NaN" -> Seq(nan, 1.0, 1.0, nan),
      "inf" -> Seq(inf, 0.0, 0.0, -inf), "null" -> null,
      "null element" -> Seq(null, 1.0, 1.0, null))
    bad.foreach { case (name, v) => assert(sorted(train(Seq(v))) == want, name) }
    assert(sorted(train(bad.map(_._2))) == want)
  }
}
