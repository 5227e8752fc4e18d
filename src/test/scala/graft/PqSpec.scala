package graft

import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, AttributeReference, In, InSet, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, Sort}
import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

import graft.expressions.NearestCell
import graft.operators.{Pq, VectorSearch}

/** Product-quantization invariants (the AnnRecallSpec device: exact
  * agreement where reconstruction is exact, measured recall against
  * the exact scan where it is lossy).
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"
  private val Dim = 64

  test("codes are deterministic, m long, and within the codebook") {
    val emb = Tables.embeddings(spark, d)
    val (m, k) = (8, 16)
    val books = Pq.train(emb, "vec_id", "embedding", Dim, m, k, iters = 2)
      .cache()
    try {
      val codes1 = Pq.encode(emb, books, "vec_id", "embedding", Dim, m)
        .collect().map(r => r.getLong(0) ->
          r.getSeq[Int](1).toList).toMap
      val codes2 = Pq.encode(emb, books, "vec_id", "embedding", Dim, m)
        .collect().map(r => r.getLong(0) ->
          r.getSeq[Int](1).toList).toMap
      assert(codes1 == codes2)
      assert(codes1.size == emb.count())
      assert(codes1.values.forall(c => c.length == m && c.forall(x =>
        x >= 0 && x < k)))
    } finally books.unpersist()
  }

  test("train refuses m < 1, k < 1 and k > 256") {
    val vecs = Seq((1L, Array(1.0f, 0.0f, 1.0f, 0.0f)), (2L, Array(0.0f, 1.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    Seq((0, 2), (-2, 2), (2, 0), (2, -1), (2, 257)).foreach { case (m, k) =>
      intercept[IllegalArgumentException](
        Pq.train(vecs, "vec_id", "embedding", 4, m, k, iters = 1))
    }
  }

  test("encode plans m NearestCell and no join, broadcast or aggregate " +
    "fold; a sub missing from the codebooks gets NULL codes") {
    val emb = Tables.embeddings(spark, d)
    val m = 4
    val books = Pq.train(emb, "vec_id", "embedding", Dim, m, 8, iters = 1)
    val qe = Pq.encode(emb, books, "vec_id", "embedding", Dim, m).queryExecution
    val plan = qe.optimizedPlan
    assert(plan.collect { case j: Join => j }.isEmpty, plan)
    assert(PlanWalk.expand(qe.executedPlan).collect { case b: BroadcastExchangeExec => b }
      .isEmpty, qe.executedPlan)
    val exprs = plan.collect { case n => n.expressions }.flatten
    assert(exprs.forall(!_.exists(_.isInstanceOf[ArrayAggregate])), plan)
    assert(exprs.map(_.collect { case e: NearestCell => e }.size).sum == m, plan)
    val partial = Pq.encode(emb, books.where(col("sub") =!= 1), "vec_id", "embedding", Dim, m)
      .collect().map(_.getSeq[Any](1))
    assert(partial.nonEmpty && partial.forall(c => c.length == m && c(1) == null &&
      Seq(0, 2, 3).forall(c(_) != null)))
  }

  test("ivfPqTopK ranks its probe cells on the driver and prunes the " +
    "codes with a literal cell IN list") {
    val emb = Tables.embeddings(spark, d)
    val (coarse, books, codes) = Pq.ivfPqBuild(emb, "vec_id", "embedding", Dim,
      nCells = 4, m = 4, k = 8, iters = 1)
    val query = emb.where(col("vec_id") === 7L).select(col("embedding").as("qe"))
    val top = Pq.ivfPqTopK(codes, coarse, books, query, "vec_id", "qe", Dim, 4,
      nprobe = 2, k = 10)
    val plan = top.queryExecution.optimizedPlan
    // the only ordering is the final top-k over the codes' scores
    val sorts = plan.collect { case s: Sort => s }
    assert(sorts.size == 1 &&
      sorts.head.order.flatMap(_.references.map(_.name)).contains("ivfpq_sim"), plan)
    val physical = PlanWalk.expand(top.queryExecution.executedPlan)
    assert(physical.count(_.isInstanceOf[TakeOrderedAndProjectExec]) == 1 &&
      !physical.exists(_.isInstanceOf[SortExec]), top.queryExecution.executedPlan)
    val inLists = plan.collect { case f: Filter => f.condition }.flatMap(_.collect {
      case In(a: AttributeReference, list) if a.name == "cell" && list.forall(_.isInstanceOf[Literal]) =>
        list.size
      case InSet(a: AttributeReference, set) if a.name == "cell" => set.size
    })
    assert(inLists == Seq(2), plan)
    assert(top.collect().length == 10)
    // no query row answers nothing
    assert(Pq.ivfPqTopK(codes, coarse, books, query.limit(0), "vec_id", "qe", Dim, 4,
      nprobe = 2, k = 10).collect().isEmpty)
  }

  test("exact reconstruction: when every sub-vector is a centroid, " +
    "ADC ranking matches the exact scan") {
    // 4 vectors built from a 2-cell codebook per subspace (dim 4,
    // m 2): training with k=2 on exactly these recovers the
    // sub-vectors as centroids, reconstruction is exact, so ADC
    // cosine == exact cosine. The two LOWEST ids must have distinct
    // sub-vectors in EVERY subspace — Lloyd seeds by lowest id, and
    // duplicate seeds collapse the codebook (see lloydCentroids).
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 1.0f)),
      (3L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (4L, Array(0.0f, 1.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val books = Pq.train(vecs, "vec_id", "embedding", 4, 2, 2, iters = 2)
    val codes = Pq.encode(vecs, books, "vec_id", "embedding", 4, 2)
    val query = Seq(Tuple1(Array(1.0f, 0.1f, 0.9f, 0.0f))).toDF("qe")
    val adc = Pq.adcTopK(codes, books, query, "vec_id", "qe", 4, 2, 4)
      .collect()
    val exact = VectorSearch.denseTopK(vecs, query,
      "vec_id", "embedding", "qe", 4).collect()
    assert(adc.map(_.getLong(0)).toSeq == exact.map(_.getLong(0)).toSeq)
    // and the scores agree (reconstruction error is zero)
    adc.zip(exact).foreach { case (a, e) =>
      assert(math.abs(a.getDouble(1) - e.getDouble(e.fieldIndex("cos_sim")))
        < 1e-6)
    }
    // no query row answers nothing
    assert(Pq.adcTopK(codes, books, query.limit(0), "vec_id", "qe", 4, 2, 4)
      .collect().isEmpty)
  }

  test("measured recall@10 vs the exact scan on the sf0.001 embeddings") {
    val emb = Tables.embeddings(spark, d).cache()
    try {
      val query = emb.where(col("vec_id") === 7L)
        .select(col("embedding").as("qe"))
      val exact10 = VectorSearch.denseTopK(emb, query,
        "vec_id", "embedding", "qe", 10)
        .collect().map(_.getLong(0)).toSet
      def recallAt(m: Int, k: Int, iters: Int = 2): Double = {
        val books = Pq.train(emb, "vec_id", "embedding", Dim, m, k, iters)
        val codes = Pq.encode(emb, books, "vec_id", "embedding", Dim, m)
        val got = Pq.adcTopK(codes, books, query, "vec_id", "qe", Dim, m, 10)
          .collect().map(_.getLong(0)).toSet
        (got & exact10).size / 10.0
      }
      val r8x64 = recallAt(8, 64, iters = 4)
      val r8x16 = recallAt(8, 16)
      val r4x16 = recallAt(4, 16)
      // measured on the fixed sf0.001 corpus, and CROSS-CHECKED against
      // an offline numpy replication of the identical algorithm (L2
      // Lloyd, id seeds, ADC cosine), which measures the same 0.60 at
      // m=8,k=64 — the ceiling here is the synthetic corpus (57% mean
      // relative reconstruction error: near-random vectors compress
      // poorly), not the implementation. Claims pinned: (a) the Spark
      // pipeline achieves the algorithm's measured ceiling (m=8,k=64 —
      // still 32x smaller than raw float32 at d=64), (b) recall
      // responds to codebook size, (c) more subspaces never hurt badly
      assert(r8x64 >= 0.55, s"recall@10 m=8,k=64 = $r8x64")
      assert(r8x16 >= 0.5, s"recall@10 m=8,k=16 = $r8x16")
      assert(r8x64 >= r8x16 - 0.1,
        s"recall fell with a BIGGER codebook: k64=$r8x64 k16=$r8x16")
      assert(r8x16 >= r4x16 - 0.2,
        s"recall degraded with MORE subspaces: m8=$r8x16 m4=$r4x16")
      info(f"recall@10: m=8,k=64 -> $r8x64%.2f; m=8,k=16 -> $r8x16%.2f; " +
        f"m=4,k=16 -> $r4x16%.2f")
    } finally emb.unpersist()
  }

  test("SQ8: compressed ranking stays close to exact on real data") {
    val emb = Tables.embeddings(spark, d).cache()
    try {
      val query = emb.where(col("vec_id") === 7L)
        .select(col("embedding").as("qe"))
      val corpus = emb.where(col("vec_id") =!= 7L)
      val exact10 = VectorSearch.denseTopK(corpus, query,
        "vec_id", "embedding", "qe", 10)
        .collect().map(_.getLong(0)).toSet
      val sq10 = Pq.sq8TopK(corpus, query, "vec_id", "embedding", "qe", 10)
        .collect().map(_.getLong(0)).toSet
      // 8-bit per-dim quantization is far finer than PQ — near-exact
      // ranking even on the near-tie synthetic corpus
      val recall = (sq10 & exact10).size / 10.0
      assert(recall >= 0.8, s"SQ8 recall@10 = $recall")
      info(f"SQ8 recall@10 = $recall%.2f")
    } finally emb.unpersist()
  }

  test("IVF+SQ8: probed byte codes track exact retrieval and prune " +
    "the corpus") {
    import graft.functions.VectorFns
    val emb = Tables.embeddings(spark, d)
      .withColumn("cell",
        VectorFns.signCode(col("embedding"), 4).cast("int"))
      .cache()
    try {
      val centroids = VectorSearch.centroidArrays(emb, "cell", "embedding")
      val query = emb.where(col("vec_id") === 7L)
        .select(col("embedding").as("qe"))
      val corpus = emb.select(col("vec_id"), col("embedding"))
        .where(col("vec_id") =!= 7L)
      val exact10 = VectorSearch.denseTopK(corpus, query,
        "vec_id", "embedding", "qe", 10)
        .collect().map(_.getLong(0)).toSet
      // all 16 cells probed -> only SQ8 loss remains (near-exact);
      // nprobe=3 adds the IVF pruning loss on top
      val all16 = Pq.ivfSq8TopK(corpus, query, centroids,
        "vec_id", "embedding", "qe", "cell", nprobe = 16, k = 10)
        .collect().map(_.getLong(0)).toSet
      val p3 = Pq.ivfSq8TopK(corpus, query, centroids,
        "vec_id", "embedding", "qe", "cell", nprobe = 3, k = 10)
        .collect().map(_.getLong(0)).toSet
      val rAll = (all16 & exact10).size / 10.0
      val r3 = (p3 & exact10).size / 10.0
      assert(rAll >= 0.8, s"IVF+SQ8 all-cells recall@10 = $rAll")
      // nprobe=3 loss is the IVF prune's (SRP cells scatter this
      // synthetic near-tie corpus), NOT the quantizer's: the sharp
      // contract is that SQ8 costs at most one flip versus the
      // UNCOMPRESSED IVF at identical cells/nprobe
      val ivf3 = VectorSearch.annIvf(corpus, query, centroids,
        "vec_id", "embedding", "qe", "cell", nprobe = 3, k = 10)
        .collect().map(_.getLong(0)).toSet
      val r3Ivf = (ivf3 & exact10).size / 10.0
      assert(r3 >= r3Ivf - 0.1,
        s"SQ8-on-IVF recall $r3 fell more than one flip below " +
          s"uncompressed IVF $r3Ivf")
      // the probe must actually prune: scored rows < corpus
      val scored = Pq.ivfSq8TopK(corpus, query, centroids,
        "vec_id", "embedding", "qe", "cell", nprobe = 3, k = 100000)
        .count()
      assert(scored < corpus.count(),
        s"nprobe=3 should prune: scored $scored of ${corpus.count()}")
      info(f"IVF+SQ8 recall@10: all cells -> $rAll%.2f; nprobe=3 -> " +
        f"$r3%.2f (uncompressed IVF nprobe=3 -> $r3Ivf%.2f); " +
        f"nprobe=3 scored $scored/${corpus.count()} rows")
    } finally emb.unpersist()
  }

  test("IVF-PQ: residual coding + probing tracks exact retrieval") {
    val emb = Tables.embeddings(spark, d).cache()
    try {
      val query = emb.where(col("vec_id") === 7L)
        .select(col("embedding").as("qe"))
      val exact10 = VectorSearch.denseTopK(emb, query,
        "vec_id", "embedding", "qe", 10)
        .collect().map(_.getLong(0)).toSet
      val (coarse, books, codes) = Pq.ivfPqBuild(
        emb, "vec_id", "embedding", Dim, nCells = 8, m = 8, k = 64,
        iters = 2)
      codes.cache().count()
      try {
        def recallAt(nprobe: Int): Double = {
          val got = Pq.ivfPqTopK(codes, coarse, books, query,
            "vec_id", "qe", Dim, 8, nprobe, 10)
            .collect().map(_.getLong(0)).toSet
          (got & exact10).size / 10.0
        }
        val r2 = recallAt(2)
        val rAll = recallAt(8)
        // probing every cell removes the IVF loss — only PQ loss remains,
        // and residual coding must do no worse than raw-vector PQ at the
        // same (m, k) (measured equal-or-better on this corpus)
        assert(rAll >= 0.55, s"recall@10 all-cells = $rAll")
        assert(rAll >= r2, s"recall fell with MORE probes: all=$rAll r2=$r2")
        // the probe prune is real: nprobe=2 scores a strict subset of
        // rows (cells carry ~1/4 of the corpus each here)
        val probedRows = Pq.ivfPqTopK(codes, coarse, books, query,
          "vec_id", "qe", Dim, 8, 2, 1000).count()
        assert(probedRows < emb.count(),
          s"nprobe=2 should prune: scored $probedRows of ${emb.count()}")
        info(f"IVF-PQ recall@10: nprobe=2 -> $r2%.2f; all cells -> $rAll%.2f" +
          s"; nprobe=2 scored $probedRows/${emb.count()} rows")
      } finally codes.unpersist()
    } finally emb.unpersist()
  }

  test("IVF-PQ refine: exact re-rank of the shortlist buys back PQ loss") {
    val emb = Tables.embeddings(spark, d).cache()
    try {
      val query = emb.where(col("vec_id") === 7L)
        .select(col("embedding").as("qe"))
      val exact10 = VectorSearch.denseTopK(emb, query,
        "vec_id", "embedding", "qe", 10)
        .collect().map(_.getLong(0)).toSet
      val (coarse, books, codes) = Pq.ivfPqBuild(
        emb, "vec_id", "embedding", Dim, nCells = 8, m = 8, k = 64,
        iters = 2)
      codes.cache().count()
      try {
        def recallOf(ids: Set[Long]) = (ids & exact10).size / 10.0
        val plain = recallOf(Pq.ivfPqTopK(codes, coarse, books, query,
          "vec_id", "qe", Dim, 8, 8, 10).collect().map(_.getLong(0)).toSet)
        // all-cell probe + 10x shortlist: the refine layer re-ranks candK
        // exact vectors, so any true top-10 the codes ranked within the
        // shortlist is recovered — at candK=100 over all cells the PQ
        // ordering loss is fully bought back on this corpus
        val refined = Pq.ivfPqRefine(codes, coarse, books, emb, query,
          "vec_id", "embedding", "qe", Dim, 8, nprobe = 8, candK = 100,
          k = 10).collect().map(_.getLong(0)).toSet
        assert(recallOf(refined) >= plain,
          s"refine reduced recall: ${recallOf(refined)} < $plain")
        assert(recallOf(refined) == 1.0,
          s"candK=100 all-cell refine should be exact here: ${recallOf(refined)}")
        // refined scores are the EXACT cosines (match denseTopK output)
        val refTop = Pq.ivfPqRefine(codes, coarse, books, emb, query,
          "vec_id", "embedding", "qe", Dim, 8, 8, 100, 10)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val exactScores = VectorSearch.denseTopK(emb, query,
          "vec_id", "embedding", "qe", 10)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        exactScores.foreach { case (id, s) =>
          assert(math.abs(refTop(id) - s) < 1e-9,
            s"refined score for $id diverges: ${refTop(id)} vs $s")
        }
        info(f"refine recall@10: plain=$plain%.2f refined=${recallOf(refined)}%.2f")
      } finally codes.unpersist()
    } finally emb.unpersist()
  }
}
