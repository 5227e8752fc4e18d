package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

import graft.expressions.CellBook
import graft.functions.VectorFns

/** Product quantization — the canonical billion-vector compression
  * for ANN at lake scale (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011; the PQ half of FAISS-style
  * IVF-PQ). The reference serves uncompressed vectors from ChromaDB
  * (backend/app/core/vector_store.py); at 100 TB the index must
  * shrink — PQ stores m small codes per vector (m·1 bytes vs 4·d
  * bytes: 32× at d=64, m=8) and scores queries against codes via
  * per-subspace lookup tables without touching raw vectors.
  *
  * PQ is IVF with another objective, and runs on IVF's machinery:
  * training is lloydCentroids' driver-side Lloyd loop once per
  * subspace on the sliced vectors, and encoding is one native
  * NearestCell pass per row over the m collected sub-codebooks, both
  * with the L2 objective PQ requires instead of the spherical one
  * (CellBook.L2: argmax of `round(v·c − ‖c‖²/2, 6)`). Cosine
  * assignment ignores sub-vector magnitude, which is exactly what the
  * ADC dot contributions need preserved (measured: cosine assignment
  * cost ~20 recall points at m=8,k=64). ADC scoring is a broadcast
  * m×k lookup-table fold + the standard TakeOrdered top-k. PqSpec
  * measures recall against the exact scan — the AnnRecallSpec
  * device; vs_pq_adc and vs_ivf_pq replay the whole chain at one
  * Lloyd round against the oracle.
  *
  * Scale notes: train on a SAMPLE at production (the codebook needs
  * thousands of vectors per cell, not the corpus); encoding is the
  * only full-corpus pass, narrow and exchange-free; queries never
  * shuffle the code table.
  */
object Pq {

  private val BooksSchema = StructType(Seq(StructField("sub", IntegerType),
    StructField("cell", IntegerType), StructField("centroid", ArrayType(DoubleType))))

  /** Per-subspace codebooks: (sub, cell, centroid) as one local
    * relation — subspace `s` covers vector positions
    * [s·d/m, (s+1)·d/m). Each sub runs VectorSearch's Lloyd loop with
    * the L2 objective: the k lowest-id vectors are collected once (one
    * job), numbered 0..k−1 in id order and sliced per sub on the
    * driver, and each round assigns with NearestCell and collects the
    * new k-row codebook (one job per sub and round). The m subs'
    * loops run concurrently and touch only their own slice, so the
    * result is deterministic. k ≤ 256 keeps a code one byte; m < 1,
    * k < 1 and a dim that m does not divide are refused. Under Lloyd's
    * L2 rule only a finite-normSq vector seeds, and only a
    * finite-normSq sub-vector enters its subspace's means.
    */
  def train(
      vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int): DataFrame = {
    require(m >= 1, s"m=$m must be at least one subspace")
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(k >= 1 && k <= 256, s"k=$k must be in [1, 256] (one-byte codes)")
    val dsub = dim / m
    val seeds = VectorSearch.seedVectors(vectors, idCol, vecCol, k, CellBook.L2)
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val rows = Await.result(
      Future.sequence((0 until m).map { s =>
        Future {
          blocking {
            val sub = vectors.select(slice(col(vecCol), s * dsub + 1, dsub).as("subv"))
            val subSeeds = seeds.map(v => if (v == null) null else v.slice(s * dsub, (s + 1) * dsub))
            VectorSearch.lloyd(sub, "subv", subSeeds, iters, CellBook.L2)
              .collect().map(r => Row(s, r.get(0), r.get(1)))
          }
        }
      }), Duration.Inf)
    vectors.sparkSession.createDataFrame(java.util.Arrays.asList(rows.flatten: _*), BooksSchema)
  }

  /** Encode each vector to its m-code array (id, codes) in ONE narrow
    * zero-exchange pass: the (sub, cell, centroid) codebooks are
    * collected once (no job for train's local relation) into m L2
    * CellBooks, and each row emits
    * `array(NearestCell(slice(vec, s·dsub+1, dsub), book_s) for s)` —
    * the same kernel and objective as training. A sub absent from
    * `codebooks` gets an empty book, so its code is NULL. `extraCols`
    * ride along so callers (ivfPqBuild) need no join to re-attach row
    * metadata.
    *
    * Precondition: `idCol` is unique per row — the pass emits one code
    * row PER INPUT ROW and merges nothing.
    */
  def encode(
      vectors: DataFrame, codebooks: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int,
      extraCols: Seq[String] = Nil): DataFrame = {
    val dsub = dim / m
    val entries = codebooks
      .select(col("sub"), col("cell"), col("centroid"),
        VectorSearch.cellTerm(col("centroid"), CellBook.L2))
      .collect().groupBy(_.getInt(0))
    val cellType = codebooks.schema("cell").dataType
    val codes = (0 until m).map { s =>
      val book = CellBook(cellType, entries.getOrElse(s, Array.empty[Row]).toSeq
        .map(r => (r.get(1), r.getAs[scala.collection.Seq[Any]](2), r.get(3))), CellBook.L2)
      VectorSearch.nearestCell(slice(col(vecCol), s * dsub + 1, dsub), book)
    }
    vectors.select(col(idCol) +: extraCols.map(col) :+ array(codes: _*).as("codes"): _*)
  }

  /** Asymmetric-distance top-k: score every code row against ONE
    * query via broadcast per-subspace lookup tables (dot and ‖c‖²
    * per (sub, cell)), approximating cosine(query, reconstructed):
    * Σ_s dot(q_s, c_{s,code}) / (‖q‖ · sqrt(Σ_s ‖c_{s,code}‖²)).
    * The tables score the codebook against the literal query
    * (denseTopK's single-query rules: no row or a NULL vector answers
    * nothing). The corpus side reads codes only — no vectors, no
    * shuffle; the top-k terminates in TakeOrderedAndProject like
    * denseTopK.
    */
  def adcTopK(
      codes: DataFrame, codebooks: DataFrame, query: DataFrame,
      idCol: String, queryVecCol: String, dim: Int, m: Int,
      k: Int): DataFrame = {
    val dsub = dim / m
    val q = VectorSearch.queryVector(query, queryVecCol)
    // per-(sub, cell) tables: one projection of the m·k-row codebook
    val tables = codebooks
      .select(col("sub"), col("cell"),
        VectorFns.dot(col("centroid"),
          slice(q.vec, col("sub") * dsub + 1, lit(dsub))).as("dot"),
        VectorFns.normSq(col("centroid")).as("nsq"))
      .groupBy(col("sub"))
      .agg(map_from_entries(collect_list(
        struct(col("cell"), struct(col("dot"), col("nsq"))))).as("tbl"))
      // nested map keyed by sub (structs holding maps are unordered,
      // so an array_sort assembly fails analysis)
      .agg(map_from_entries(collect_list(
        struct(col("sub"), col("tbl")))).as("tbls"))
    val entry = (s: Int) => element_at(element_at(col("tbls"), lit(s)),
      element_at(col("codes"), s + 1))
    codes
      .where(lit(!q.isNull))
      .crossJoin(broadcast(tables))
      .select(col(idCol),
        round(sumOverSubs(m)(entry(_).getField("dot")) /
          nullif(q.norm * sqrt(sumOverSubs(m)(entry(_).getField("nsq"))), lit(0.0)),
          6).as("adc_sim"))
      .orderBy(col("adc_sim").desc_nulls_last, col(idCol))
      .limit(k)
  }

  /** `0.0 + term(0) + … + term(m − 1)`, added left to right: the ADC
    * sum over a code row's m subspaces as one generated expression.
    */
  private def sumOverSubs(m: Int)(term: Int => Column): Column =
    (0 until m).foldLeft(lit(0.0))((acc, s) => acc + term(s))

  /** Scalar quantization (FAISS SQ8): per-dimension [min, max] range
    * over the corpus, each component → one byte
    * code = floor(((v − mn) / (mx − mn)) · 255), reconstruction at
    * the bucket midpoint mn + (code + 0.5)·(mx − mn)/256 — 4× smaller
    * than float32 with no codebook to train. Unlike PQ (kmeans
    * weights → spec-only), SQ8 is pure deterministic arithmetic, so
    * the demo query is ORACLE-CHECKED end to end: both engines
    * compute the identical IEEE-double expression (same
    * parenthesization both sides), making even the floor() bucket
    * boundaries bit-identical.
    *
    * Scale shape: the range is one map-side-combined per-dimension
    * min/max aggregate (d rows out); encode and reconstruct are
    * narrow zip_with folds against the broadcast d-row range array;
    * scoring reuses denseTopK on the reconstructed column
    * (asymmetric: the query stays uncompressed, like ADC).
    */
  def sq8TopK(
      vectors: DataFrame, query: DataFrame, idCol: String,
      vecCol: String, qVec: String, k: Int,
      extraCols: Seq[String] = Nil): DataFrame = {
    val rng = broadcast(sq8Range(vectors, vecCol))
    val codes = vectors.crossJoin(rng)
      .select(col(idCol) +: extraCols.map(col) :+
        sq8Encode(col(vecCol), col("rng")).as("codes"): _*)
    val recon = codes.crossJoin(rng)
      .withColumn("recon", sq8Decode(col("codes"), col("rng")))
    VectorSearch.denseTopK(recon, query, idCol, "recon", qVec, k,
      extraCols)
  }

  /** SQ8's trained quantizer: the corpus-wide per-dimension [mn, mx]
    * range as ONE row `rng`, an array of (mn, mx) structs in dimension
    * order — one map-side-combined min/max aggregate (d rows out).
    */
  private def sq8Range(vectors: DataFrame, vecCol: String): DataFrame =
    vectors
      .select(posexplode(col(vecCol)).as(Seq("i", "v")))
      .groupBy(col("i"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .agg(transform(
        array_sort(collect_list(struct(col("i"), col("mn"), col("mx")))),
        x => struct(x.getField("mn").as("mn"), x.getField("mx").as("mx")))
        .as("rng"))

  /** One byte per component: floor(((v − mn) / (mx − mn)) · 255), 0
    * on a constant dimension.
    */
  private def sq8Encode(vec: Column, rng: Column): Column =
    zip_with(vec, rng, (v, r) => {
      val mn = r.getField("mn").cast("double")
      val mx = r.getField("mx").cast("double")
      when(mx > mn, floor(((v.cast("double") - mn) / (mx - mn)) * lit(255.0)))
        .otherwise(0L)
    })

  /** Bucket-midpoint reconstruction mn + (code + 0.5)·(mx − mn)/256. */
  private def sq8Decode(codes: Column, rng: Column): Column =
    zip_with(codes, rng, (c, r) => {
      val mn = r.getField("mn").cast("double")
      val mx = r.getField("mx").cast("double")
      mn + (c.cast("double") + lit(0.5)) * (mx - mn) / lit(256.0)
    })

  /** IVF + SQ8 — the pragmatic lake-scale default at moderate dims:
    * coarse cells prune the corpus to nprobe/K (the IVF win) and the
    * survivors score against 4×-compressed SQ8 codes with midpoint
    * reconstruction (the FAISS `IVF<K>,SQ8` index). Unlike IVF-PQ
    * (kmeans codebooks → spec-only), every step here is
    * deterministic IEEE arithmetic — per-dim min/max range, floor()
    * bucketing, probe ranking on rounded cosine — so the demo query
    * is ORACLE-CHECKED end to end like vs_sq8_topk.
    *
    * Scale shape: the range is ONE map-side-combined per-dimension
    * min/max aggregate (d rows, broadcast back); assignment is
    * assignCells' zero-exchange kernel pass; codes (the stored
    * index: id, cell, d bytes) are built in the same narrow pass; at
    * query time a static filter on the ≤ nprobe driver-ranked cells
    * prunes before any reconstruction — raw vectors are never read by
    * the query path.
    */
  def ivfSq8TopK(
      candidates: DataFrame, query: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, qVec: String, groupCol: String,
      nprobe: Int, k: Int): DataFrame = {
    // stored index rows: (id, cell, codes); the codebook is collected
    // once for the assignment and the probe ranking below
    val book = VectorSearch.local(centroids.select(col(groupCol), col("centroid")))
    val assigned = VectorSearch.assignCells(
      candidates, book, idCol, vecCol, groupCol)
    // rng rides along with the codes so the reconstruction stage
    // below reuses it — re-joining the range there would recompute
    // the corpus-wide min/max aggregate a second time (two full
    // candidate scans per query); all stages between are narrow, so
    // the carried column never crosses a shuffle
    val codes = assigned.crossJoin(broadcast(sq8Range(candidates, vecCol)))
      .select(col(idCol), col(groupCol), col("rng"),
        sq8Encode(col(vecCol), col("rng")).as("codes"))
    // probe: nprobe cells nearest the query, ranked on the driver
    // (annIvfProbe's static filter; it stays above the assignment's
    // generator, so the kernel runs once per row)
    val q = VectorSearch.queryVector(query, qVec)
    val cells = VectorSearch.probeCells(q, book, groupCol, nprobe)
    // probed codes only -> midpoint reconstruction -> asymmetric
    // cosine (query uncompressed, like ADC)
    val recon = codes
      .where(col(groupCol).isin(cells: _*))
      .withColumn("recon", sq8Decode(col("codes"), col("rng")))
    VectorSearch.denseTopKOf(recon, q, idCol, "recon", k, Seq(groupCol))
  }

  /** IVF-PQ index: coarse spherical cells (the retrieval-metric
    * codebook, as in annIvf) + L2-PQ codes of the RESIDUAL
    * v − coarse_centroid — residuals concentrate around zero, so the
    * same sub-codebooks quantize them far more finely than raw
    * vectors (the standard FAISS IVFPQ layout). Returns
    * (coarse, books, codes): codes carry the coarse cell so queries
    * prune to probed cells before any scoring.
    */
  def ivfPqBuild(
      vectors: DataFrame, idCol: String, vecCol: String, dim: Int,
      nCells: Int, m: Int, k: Int, iters: Int): (DataFrame, DataFrame, DataFrame) = {
    val coarse = VectorSearch.lloydCentroids(
      vectors, idCol, vecCol, nCells, iters)
    val assigned = VectorSearch.assignCells(
      vectors, coarse, idCol, vecCol, "cell")
    // residuals: one broadcast join against the tiny coarse codebook
    // — materialized once (localCheckpoint) because PQ training
    // scans it m × iters times
    val residuals = assigned
      .join(broadcast(coarse.withColumnRenamed("centroid", "ccent")),
        Seq("cell"))
      .select(col(idCol), col("cell"),
        zip_with(VectorFns.asDouble(col(vecCol)), col("ccent"),
          (x, c) => x - c).as("resid"))
      .localCheckpoint()
    val books = train(residuals, idCol, "resid", dim, m, k, iters)
    // cell rides through the one-pass encoder (r21) — the previous
    // (id)-keyed join back to residuals was a corpus-scale shuffle
    // that re-attached a column the encoder's input already carried.
    // NOTE (r22, measured): barriering the encode output with a lazy
    // localCheckpoint ("cheap projection barrier", the r21 item-3
    // hypothesis) is consistently ~0.2 s WORSE at sf0.1 (paired
    // stash arms, min-of-3: 3.27/3.85 vs 3.12/3.63) — the code frame
    // has exactly ONE consumer (the refine shortlist's broadcast
    // build), so truncation saves no recompute and the checkpoint
    // block bookkeeping is pure overhead. Left un-barriered.
    val codes = encode(residuals, books, idCol, "resid", dim, m,
      extraCols = Seq("cell"))
    (coarse, books, codes)
  }

  /** IVF-PQ query: probe the nprobe coarse cells nearest the query
    * (cosine, like annIvf), then ADC-score ONLY the codes in probed
    * cells against per-cell lookup tables. The reconstruction is
    * v̂ = c_cell + recon(codes), so cos(q, v̂) needs three
    * per-(cell, sub, code) terms — q·book, ‖book‖², and the cross
    * term c_cell,s·book — all broadcast as one nested map built from
    * a probed-cells × books cross (nprobe·m·k rows, tiny).
    *
    * The probe is ranked on the driver, as annIvfProbe ranks it: the
    * coarse codebook's (cell, rank, q·c, ‖c‖²) rows are collected
    * against the literal query (no job for a local codebook) and
    * rankCells orders them by `round(q·c / nullif(‖c‖, 0), 6)` desc,
    * ties to the smallest cell. The probed cells become a local frame
    * for the lookup tables and a static `cell IN (…)` filter on the
    * codes; raw vectors are never read. `query` follows denseTopK's
    * single-query rules: no row or a NULL vector answers nothing.
    */
  def ivfPqTopK(
      codes: DataFrame, coarse: DataFrame, books: DataFrame,
      query: DataFrame, idCol: String, queryVecCol: String, dim: Int,
      m: Int, nprobe: Int, k: Int): DataFrame = {
    val dsub = dim / m
    val q = VectorSearch.queryVector(query, queryVecCol)
    val ranked = coarse
      .select(col("cell"), col("centroid"),
        round(VectorFns.dot(col("centroid"), q.vec) /
          nullif(VectorFns.l2Norm(col("centroid")), lit(0.0)), 6),
        VectorFns.dot(col("centroid"), q.vec),
        VectorFns.normSq(col("centroid")))
      .collect()
    val cellType = coarse.schema("cell").dataType
    val probed = if (q.isNull) Nil
      else VectorSearch.rankCells(cellType, ranked.toSeq.map(r => (r.get(0), r.get(2))), nprobe)
    val byCell = ranked.map(r => r.get(0) -> r).toMap
    // (pcell, pcent, qc, cnsq) of the probed cells
    val pb = coarse.sparkSession.createDataFrame(
      java.util.Arrays.asList(probed.map { c =>
        val r = byCell(c); Row(c, r.get(1), r.get(3), r.get(4)) }: _*),
      StructType(Seq(StructField("pcell", cellType),
        StructField("pcent", coarse.schema("centroid").dataType),
        StructField("qc", DoubleType), StructField("cnsq", DoubleType))))
    // per-(cell, sub, code) terms — nprobe·m·k rows, all tiny frames:
    // dotq = q_s·book, nsq = ‖book‖², crossc = c_cell,s·book
    val bk = books.select(col("sub"), col("cell").as("code"),
      col("centroid").as("bcent"))
    val entries = pb.crossJoin(bk)
      .select(col("pcell"), col("sub"), col("code"),
        struct(
          VectorFns.dot(col("bcent"),
            slice(q.vec, col("sub") * dsub + 1, lit(dsub))).as("dotq"),
          VectorFns.normSq(col("bcent")).as("nsq"),
          VectorFns.dot(col("bcent"),
            slice(col("pcent"), col("sub") * dsub + 1, lit(dsub)))
            .as("crossc")).as("e"))
    val tbl = entries.groupBy(col("pcell"), col("sub"))
      .agg(map_from_entries(collect_list(struct(col("code"), col("e"))))
        .as("t"))
      .groupBy(col("pcell"))
      .agg(map_from_entries(collect_list(struct(col("sub"), col("t"))))
        .as("st"))
    val cellMeta = tbl
      .join(pb.select(col("pcell"), col("qc"), col("cnsq")), Seq("pcell"))
      .agg(map_from_entries(collect_list(struct(col("pcell"),
        struct(col("st"), col("qc"), col("cnsq"))))).as("cells"))
    val entry = (s: Int) => element_at(element_at(col("cm").getField("st"), lit(s)),
      element_at(col("codes"), s + 1))
    codes
      // probed-cell prune: a literal IN list of ≤ nprobe cells — the
      // IVF win; unprobed codes never reach the lookups
      .where(col("cell").isin(probed: _*))
      .crossJoin(broadcast(cellMeta))
      .withColumn("cm", element_at(col("cells"), col("cell")))
      // cos(q, c + recon) = (q·c + Σdotq) /
      //   (‖q‖ · sqrt(‖c‖² + 2·Σcrossc + Σnsq))
      .select(col(idCol),
        round((col("cm").getField("qc") + sumOverSubs(m)(entry(_).getField("dotq"))) /
          nullif(q.norm * sqrt(col("cm").getField("cnsq") +
            lit(2.0) * sumOverSubs(m)(entry(_).getField("crossc")) +
            sumOverSubs(m)(entry(_).getField("nsq"))), lit(0.0)), 6).as("ivfpq_sim"))
      .orderBy(col("ivfpq_sim").desc_nulls_last, col(idCol))
      .limit(k)
  }

  /** FAISS-style refine layer (`IVFPQ,RFlat`): the compressed index
    * produces a candK shortlist, then ONLY those candK vectors are
    * re-read uncompressed and exactly re-ranked to the final top-k.
    * This buys back the quantization-loss recall at the cost of candK
    * point lookups — the standard accuracy knob when codes alone
    * plateau (candK/k is the refine expansion factor).
    *
    * Scale: the shortlist is candK ids → a broadcast semi-prune on
    * the vector store (at lake scale, a point-lookup against the
    * bucketed/partitioned store — never a scan-and-score of the
    * corpus); exact cosine runs on candK rows only.
    */
  def ivfPqRefine(
      codes: DataFrame, coarse: DataFrame, books: DataFrame,
      vectors: DataFrame, query: DataFrame, idCol: String,
      vecCol: String, queryVecCol: String, dim: Int, m: Int,
      nprobe: Int, candK: Int, k: Int): DataFrame = {
    require(candK >= k, s"candK=$candK must be >= k=$k")
    val shortlist = ivfPqTopK(codes, coarse, books, query, idCol,
      queryVecCol, dim, m, nprobe, candK).select(col(idCol))
    val q = query.select(VectorFns.asDouble(col(queryVecCol)).as("q"))
    vectors
      .join(broadcast(shortlist), Seq(idCol))
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(VectorFns.cosine(VectorFns.asDouble(col(vecCol)),
          col("q")), 6).as("refined_sim"))
      .orderBy(col("refined_sim").desc_nulls_last, col(idCol))
      .limit(k)
  }
}
