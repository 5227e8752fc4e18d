package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
  * Composition, not new machinery: training runs Lloyd's loop shape
  * (broadcast fold assignment, zero corpus exchange, per-round
  * localCheckpoint) once per subspace on the sliced
  * vectors — with the L2 objective PQ requires instead of the
  * spherical one (see assignL2); encoding is the same narrow fold
  * per subspace; ADC scoring is a broadcast m×k lookup-table fold +
  * the standard TakeOrdered top-k. Spec-only like lloydCentroids
  * (model weights aren't oracle-friendly); PqSpec measures recall
  * against the exact scan — the AnnRecallSpec device.
  *
  * Scale notes: train on a SAMPLE at production (the codebook needs
  * thousands of vectors per cell, not the corpus); encoding is the
  * only full-corpus pass and shuffles just (id, m codes) rows to
  * assemble code arrays; queries never shuffle the code table.
  */
object Pq {

  /** L2 nearest-centroid assignment as the same narrow broadcast
    * fold as VectorSearch.assignCells, but with the EUCLIDEAN
    * objective PQ requires: argmin ‖v−c‖² = argmax (v·c − ‖c‖²/2)
    * (‖v‖² is constant per row). Cosine assignment — right for the
    * retrieval-metric codebooks of IVF — is the wrong quantizer
    * here: it ignores sub-vector magnitude, which is exactly what
    * the ADC dot contributions need preserved (measured: cosine
    * assignment cost ~20 recall points at m=8,k=64).
    */
  private def assignL2(
      candidates: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val cents = centroids
      .select(col("cell"), col("centroid"),
        VectorFns.normSq(col("centroid")).as("cnsq"))
    val centsArr = cents.agg(
      array_sort(collect_list(struct(col("cell"), col("centroid"),
        col("cnsq")))).as("cents"))
    candidates
      .crossJoin(broadcast(centsArr))
      .withColumn("best", aggregate(
        col("cents"),
        struct(lit(Double.NegativeInfinity).as("score"),
          lit(null).cast("int").as("cell")),
        (acc, c) => {
          val score = round(VectorFns.dot(col(vecCol), c.getField("centroid"))
            - c.getField("cnsq") / 2.0, 6)
          when(score > acc.getField("score"),
            struct(score.as("score"), c.getField("cell").as("cell")))
            .otherwise(acc)
        }))
      .select(col(idCol), col(vecCol),
        col("best").getField("cell").as("cell"))
  }

  /** All m codebooks as ONE broadcastable row: books[sub] = the
    * sub's cells sorted ascending (cell, centroid, cnsq) — the
    * array_sort(struct(cell, …)) order is what resolves assignment
    * ties to the smallest cell, exactly like assignL2's centsArr.
    * Requires every sub 0..m−1 present (true by construction: seeds
    * exist per sub and a sub can never lose all its vectors).
    */
  private def booksArray(codebooks: DataFrame): DataFrame =
    codebooks
      .select(col("sub"), struct(col("cell"), col("centroid"),
        VectorFns.normSq(col("centroid")).as("cnsq")).as("c"))
      .groupBy(col("sub"))
      .agg(array_sort(collect_list(col("c"))).as("cents"))
      .agg(array_sort(collect_list(struct(col("sub"), col("cents"))))
        .as("books"))

  /** The L2 argmax fold of assignL2 over one sub's sorted cents
    * array — shared by the batched trainer and the one-pass encoder
    * so both run the byte-identical scoring expression
    * (round(dot − ‖c‖²/2, 6), strict >, ties to smallest cell).
    */
  private def bestCell(subv: Column, cents: Column): Column =
    aggregate(
      cents,
      struct(lit(Double.NegativeInfinity).as("score"),
        lit(null).cast("int").as("cell")),
      (acc, c) => {
        val score = round(VectorFns.dot(subv, c.getField("centroid"))
          - c.getField("cnsq") / 2.0, 6)
        when(score > acc.getField("score"),
          struct(score.as("score"), c.getField("cell").as("cell")))
          .otherwise(acc)
      }).getField("cell")

  /** Deterministic L2 Lloyd for one subspace: id-ordered seeds, then
    * `iters` rounds of narrow fold-assignment + long-form mean —
    * lloydCentroids' loop with the L2 objective above, over a
    * broadcast codebook with a per-round localCheckpoint lineage
    * truncation.
    */
  private def lloydL2(
      vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col(idCol))
    // lazy checkpoints (r21): plan-level truncation happens at
    // creation, no per-round driver decision exists, so no round needs
    // an eager materialization action
    var cents = vectors.orderBy(col(idCol)).limit(k)
      .withColumn("cell", (row_number().over(w) - 1).cast("int"))
      .select(col("cell"), VectorFns.asDouble(col(vecCol)).as("centroid"))
      .localCheckpoint(false)
    for (_ <- 1 to iters) {
      val assigned = assignL2(vectors, cents, idCol, vecCol)
      cents = VectorSearch.centroidArrays(assigned, "cell", vecCol)
        .select(col("cell"), col("centroid"))
        .localCheckpoint(false)
    }
    cents
  }

  /** Per-subspace codebooks: (sub, cell, centroid) — subspace `s`
    * covers vector positions [s·d/m, (s+1)·d/m). Deterministic
    * (id-seeded L2 Lloyd). k ≤ 256 keeps a code one byte.
    *
    * The m subspace trainings are independent plan-builder chains.
    * Since the r21 lazy-localCheckpoint switch in lloydL2 they submit
    * NO jobs of their own — each round's truncation defers to the
    * terminal action, where the per-sub codebook subtrees materialize
    * inside the books broadcast build; the futures remain so the m
    * chains' plan construction (and, on eager-checkpoint variants,
    * their actions) never serialize, and results stay deterministic
    * because each future touches only its own slice.
    * NOTE (r21, measured): batching all m chains into ONE long
    * (sub, id, subv) frame (one action + one corpus scan per round,
    * jobs 59 → 34 on vs_ivf_pq) was measured SLOWER end to end
    * (vs_ivf_pq min 2.5 → 3.4 s at sf0.1) — the single chain loses
    * the futures' overlap, and training at production runs on a
    * sample anyway, so the m-scans-per-round cost never meets the
    * full corpus. Kept concurrent.
    */
  def train(
      vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(k <= 256, s"k=$k exceeds one-byte codes")
    val dsub = dim / m
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val trained = Await.result(
      Future.sequence((0 until m).map { s =>
        Future {
          blocking {
            val sub = vectors.select(col(idCol),
              slice(col(vecCol), s * dsub + 1, dsub).as("subv"))
            lloydL2(sub, idCol, "subv", k, iters)
              .select(lit(s).as("sub"), col("cell"), col("centroid"))
          }
        }
      }), Duration.Inf)
    trained.reduce(_ unionAll _)
  }

  /** Encode each vector to its m-code array (id, codes) in ONE
    * narrow zero-exchange pass (r21): the m codebooks broadcast as
    * one books array, and every row computes all m argmax folds via
    * a transform over sub = 0..m−1 — same scoring expression as
    * training (bestCell). The previous shape ran one assignment scan
    * per subspace plus an (id)-keyed shuffle to assemble the code
    * arrays; this reads the vectors once and shuffles nothing
    * (guide §2.4 — remove shuffles outright). `extraCols` ride along
    * so callers (ivfPqBuild) need no join to re-attach row metadata.
    *
    * Precondition: `idCol` is unique per row. The pre-r21 shape's
    * groupBy(id) implicitly merged duplicate ids into one (malformed)
    * code row; the one-pass shape emits one code row PER INPUT ROW.
    * All callers satisfy uniqueness by construction — new callers
    * must not rely on the old implicit dedup.
    */
  def encode(
      vectors: DataFrame, codebooks: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int,
      extraCols: Seq[String] = Nil): DataFrame = {
    val dsub = dim / m
    vectors
      .crossJoin(broadcast(booksArray(codebooks)))
      .select(col(idCol) +: extraCols.map(col) :+
        transform(sequence(lit(0), lit(m - 1)), s =>
          bestCell(
            slice(VectorFns.asDouble(col(vecCol)), s * lit(dsub) + 1,
              lit(dsub)),
            element_at(col("books"), s + 1).getField("cents")))
          .as("codes"): _*)
  }

  /** Asymmetric-distance top-k: score every code row against ONE
    * query via broadcast per-subspace lookup tables (dot and ‖c‖²
    * per (sub, cell)), approximating cosine(query, reconstructed):
    * Σ_s dot(q_s, c_{s,code}) / (‖q‖ · sqrt(Σ_s ‖c_{s,code}‖²)).
    * The corpus side reads codes only — no vectors, no shuffle; the
    * top-k terminates in TakeOrderedAndProject like denseTopK.
    */
  def adcTopK(
      codes: DataFrame, codebooks: DataFrame, query: DataFrame,
      idCol: String, queryVecCol: String, dim: Int, m: Int,
      k: Int): DataFrame = {
    val dsub = dim / m
    // per-(sub, cell) tables from ONE tiny cross of codebooks × query
    val tables = codebooks.crossJoin(broadcast(
        query.select(VectorFns.asDouble(col(queryVecCol)).as("q"))))
      .select(col("sub"), col("cell"),
        VectorFns.dot(col("centroid"),
          slice(col("q"), col("sub") * dsub + 1, lit(dsub))).as("dot"),
        VectorFns.normSq(col("centroid")).as("nsq"))
      .groupBy(col("sub"))
      .agg(map_from_entries(collect_list(
        struct(col("cell"), struct(col("dot"), col("nsq"))))).as("tbl"))
      // nested map keyed by sub (structs holding maps are unordered,
      // so an array_sort assembly fails analysis)
      .agg(map_from_entries(collect_list(
        struct(col("sub"), col("tbl")))).as("tbls"))
    val qn = query.select(VectorFns.l2Norm(
      VectorFns.asDouble(col(queryVecCol))).as("qnrm"))
    codes
      .crossJoin(broadcast(tables))
      .crossJoin(broadcast(qn))
      .withColumn("acc", aggregate(
        sequence(lit(0), lit(m - 1)),
        struct(lit(0.0).as("dsum"), lit(0.0).as("nsum")),
        (acc, s) => {
          val e = element_at(element_at(col("tbls"), s),
            element_at(col("codes"), s + 1))
          struct((acc.getField("dsum") + e.getField("dot")).as("dsum"),
            (acc.getField("nsum") + e.getField("nsq")).as("nsum"))
        }))
      .select(col(idCol),
        round(col("acc").getField("dsum") /
          nullif(col("qnrm") * sqrt(col("acc").getField("nsum")), lit(0.0)),
          6).as("adc_sim"))
      .orderBy(col("adc_sim").desc_nulls_last, col(idCol))
      .limit(k)
  }

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
    val stats = vectors
      .select(posexplode(col(vecCol)).as(Seq("i", "v")))
      .groupBy(col("i"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val statsArr = stats.agg(transform(
      array_sort(collect_list(struct(col("i"), col("mn"), col("mx")))),
      x => struct(x.getField("mn").as("mn"), x.getField("mx").as("mx")))
      .as("rng"))
    val codes = vectors.crossJoin(broadcast(statsArr))
      .select(col(idCol) +: extraCols.map(col) :+
        zip_with(col(vecCol), col("rng"), (v, r) => {
          val mn = r.getField("mn").cast("double")
          val mx = r.getField("mx").cast("double")
          when(mx > mn,
            floor(((v.cast("double") - mn) / (mx - mn)) * lit(255.0)))
            .otherwise(0L)
        }).as("codes"): _*)
    val recon = codes.crossJoin(broadcast(statsArr))
      .withColumn("recon", zip_with(col("codes"), col("rng"), (c, r) => {
        val mn = r.getField("mn").cast("double")
        val mx = r.getField("mx").cast("double")
        mn + (c.cast("double") + lit(0.5)) * (mx - mn) / lit(256.0)
      }))
    VectorSearch.denseTopK(recon, query, idCol, "recon", qVec, k,
      extraCols)
  }

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
    // trained scalar quantizer: corpus-wide per-dim [mn, mx]
    val stats = candidates
      .select(posexplode(col(vecCol)).as(Seq("i", "v")))
      .groupBy(col("i"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val statsArr = stats.agg(transform(
      array_sort(collect_list(struct(col("i"), col("mn"), col("mx")))),
      x => struct(x.getField("mn").as("mn"), x.getField("mx").as("mx")))
      .as("rng"))
    // stored index rows: (id, cell, codes); the codebook is collected
    // once for the assignment and the probe ranking below
    val book = VectorSearch.local(centroids.select(col(groupCol), col("centroid")))
    val assigned = VectorSearch.assignCells(
      candidates, book, idCol, vecCol, groupCol)
    // rng rides along with the codes so the reconstruction stage
    // below reuses it — re-joining statsArr there would recompute
    // the corpus-wide min/max aggregate a second time (two full
    // candidate scans per query); all stages between are narrow, so
    // the carried column never crosses a shuffle
    val codes = assigned.crossJoin(broadcast(statsArr))
      .select(col(idCol), col(groupCol), col("rng"),
        zip_with(col(vecCol), col("rng"), (v, r) => {
          val mn = r.getField("mn").cast("double")
          val mx = r.getField("mx").cast("double")
          when(mx > mn,
            floor(((v.cast("double") - mn) / (mx - mn)) * lit(255.0)))
            .otherwise(0L)
        }).as("codes"))
    // probe: nprobe cells nearest the query, ranked on the driver
    // (annIvfProbe's static filter; it stays above the assignment's
    // generator, so the kernel runs once per row)
    val q = VectorSearch.queryVector(query, qVec)
    val cells = VectorSearch.probeCells(q, book, groupCol, nprobe)
    // probed codes only -> midpoint reconstruction -> asymmetric
    // cosine (query uncompressed, like ADC)
    val recon = codes
      .where(col(groupCol).isin(cells: _*))
      .withColumn("recon", zip_with(col("codes"), col("rng"), (c, r) => {
        val mn = r.getField("mn").cast("double")
        val mx = r.getField("mx").cast("double")
        mn + (c.cast("double") + lit(0.5)) * (mx - mn) / lit(256.0)
      }))
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
    * a probed-cells × books cross (nprobe·m·k rows, tiny). Corpus
    * side: ONE semi-join prune on cell + the code fold; raw vectors
    * are never read.
    */
  def ivfPqTopK(
      codes: DataFrame, coarse: DataFrame, books: DataFrame,
      query: DataFrame, idCol: String, queryVecCol: String, dim: Int,
      m: Int, nprobe: Int, k: Int): DataFrame = {
    val dsub = dim / m
    val q = query.select(VectorFns.asDouble(col(queryVecCol)).as("q"))
    val pb = coarse.crossJoin(broadcast(q))
      .select(col("cell").as("pcell"), col("centroid").as("pcent"),
        VectorFns.dot(col("centroid"), col("q")).as("qc"),
        VectorFns.normSq(col("centroid")).as("cnsq"),
        // 6dp-rounded BEFORE ordering (repo cross-engine protocol:
        // never order on unrounded doubles) — ties to smallest cell
        round(VectorFns.dot(col("centroid"), col("q")) /
          nullif(VectorFns.l2Norm(col("centroid")), lit(0.0)), 6)
          .as("rank"))
      .orderBy(col("rank").desc_nulls_last, col("pcell"))
      .limit(nprobe)
    // per-(cell, sub, code) terms — nprobe·m·k rows, all tiny frames:
    // dotq = q_s·book, nsq = ‖book‖², crossc = c_cell,s·book
    val bk = books.select(col("sub"), col("cell").as("code"),
      col("centroid").as("bcent"))
    val entries = pb.crossJoin(bk).crossJoin(broadcast(q))
      .select(col("pcell"), col("sub"), col("code"),
        struct(
          VectorFns.dot(col("bcent"),
            slice(col("q"), col("sub") * dsub + 1, lit(dsub))).as("dotq"),
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
    val qn = q.select(VectorFns.l2Norm(col("q")).as("qnrm"))
    codes
      // probed-cell prune: a broadcast semi of ≤ nprobe keys — the
      // IVF win; unprobed codes never reach the fold
      .join(broadcast(pb.select(col("pcell").as("cell"))), Seq("cell"))
      .crossJoin(broadcast(cellMeta))
      .crossJoin(broadcast(qn))
      .withColumn("cm", element_at(col("cells"), col("cell")))
      .withColumn("acc", aggregate(
        sequence(lit(0), lit(m - 1)),
        struct(lit(0.0).as("dsum"), lit(0.0).as("nsum"),
          lit(0.0).as("csum")),
        (acc, s) => {
          val e = element_at(element_at(col("cm").getField("st"), s),
            element_at(col("codes"), s + 1))
          struct(
            (acc.getField("dsum") + e.getField("dotq")).as("dsum"),
            (acc.getField("nsum") + e.getField("nsq")).as("nsum"),
            (acc.getField("csum") + e.getField("crossc")).as("csum"))
        }))
      // cos(q, c + recon) = (q·c + Σdotq) /
      //   (‖q‖ · sqrt(‖c‖² + 2·Σcrossc + Σnsq))
      .select(col(idCol),
        round((col("cm").getField("qc") + col("acc").getField("dsum")) /
          nullif(col("qnrm") * sqrt(col("cm").getField("cnsq") +
            lit(2.0) * col("acc").getField("csum") +
            col("acc").getField("nsum")), lit(0.0)), 6).as("ivfpq_sim"))
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
