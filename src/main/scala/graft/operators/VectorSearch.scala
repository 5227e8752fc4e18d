package graft.operators

import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.stat.Summarizer
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Literal, Sqrt}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}

import graft.expressions.{CellBook, NearestCell, RefDouble, VecNormSq, VectorExpressions}
import graft.functions.{TopKAgg, VectorFns}

/** Dense vector search operators — the Spark-native re-expression of
  * the reference's ChromaDB query surface
  * (reference: backend/app/core/vector_store.py:272 _dense_search,
  * :508 get_paper_embeddings, :538 find_similar_papers).
  *
  * Scale design:
  *  - single-query search collects its 1-row query frame on the
  *    driver (no job when the frame is local) and scores against the
  *    vector as a literal: no broadcast, no join, one `vec_dot` per
  *    candidate (VecDot widens the literal into a `double[]` once).
  *    The candidate side is scanned once, never shuffled in full.
  *  - multi-query search (knnJoin, annIvfBatch) broadcasts the query
  *    side; the big candidate side is still scanned once.
  *  - IVF keeps its k-row codebook on the driver, as single-query
  *    search keeps its query: probe cells are ranked from a collect of
  *    the codebook's (cell, cosine) pairs and scanned through a static
  *    `cell IN (...)` filter, and assignment scores every row with one
  *    native NearestCell pass over the collected codebook. A local
  *    codebook costs no job, any other one job per collect; neither
  *    path plans a broadcast or a join.
  *  - single-query top-k goes through `ORDER BY ... LIMIT k`, which
  *    Spark plans as TakeOrderedAndProject (per-partition heaps +
  *    driver merge — no global sort, no full shuffle).
  *  - the null/NaN guard keeps one `vec_dot` per candidate: NaN maps
  *    to NULL, and single-query search drops NULL scores above a
  *    generator the optimizer cannot push through (topKDefined), while
  *    multi-query search ranks them as -Infinity and drops them after
  *    the per-query top-k (topKPerQuery).
  *  - multi-query top-k is a bounded typed Aggregator (TopKAgg) under
  *    ObjectHashAggregate: each map partition reduces to at most k
  *    candidates per query BEFORE the exchange, so the shuffle carries
  *    O(queries · k · mapPartitions) rows, never the scored product.
  */
object VectorSearch {

  /** A single query vector as a literal of its column's own type, with
    * its L2 norm computed once on the driver (the same `sqrt` of
    * `vec_norm_sq`) and held by reference, so queries share compiled
    * code.
    */
  private[operators] case class QueryVec(vec: Column, norm: Column) {
    /** No query vector: an empty frame or a NULL vector. */
    def isNull: Boolean = ColumnShim.expression(vec).asInstanceOf[Literal].value == null
  }

  /** The query of a single-query frame. The frame is collected on the
    * driver, as the broadcast this replaces collected it: a local frame
    * costs no job, any other one job (a `limit(2)` would cost more:
    * Spark scans the partitions in growing rounds until it finds two
    * rows). More than one row is refused, and an empty frame gives a
    * NULL vector, so the search answers nothing.
    */
  private[operators] def queryVector(query: DataFrame, qVec: String): QueryVec = {
    val q = query.select(col(qVec))
    val rows = q.collect()
    require(rows.length <= 1,
      s"single-query search: the query frame holds more than one row " +
        s"(use knnJoin or annIvfBatch for a query set)")
    val v = Literal.create(rows.headOption.map(_.get(0)).orNull, q.schema.head.dataType)
    val norm = Sqrt(VecNormSq(v)).eval()
    QueryVec(ColumnShim.column(v), ColumnShim.column(
      if (norm == null) Literal(null, DoubleType) else RefDouble(norm.asInstanceOf[Double])))
  }

  /** Rounded cosine of `vec` against the query, NaN mapped to NULL.
    * NULL covers a null or wrong-length vector on either side and a
    * zero norm (cosinePrenormed's nullif guard); NaN comes from Inf/NaN
    * components with a non-zero norm.
    */
  private def guardedCosine(vec: Column, cnrm: Column, q: QueryVec): Column =
    nanvl(round(VectorFns.cosinePrenormed(vec, q.vec, cnrm, q.norm), 6),
      lit(null).cast("double"))

  /** Top-k of `keep` plus `cos_sim` (desc, id tiebreak) over the
    * candidates whose `cosine` is defined (not NULL). The score comes
    * out of a generator, `explode(array(cosine))` — one row per
    * candidate — so the NULL filter above it references a generator
    * output, which the optimizer cannot push below the score. The two
    * plain shapes each cost more: a filter on a projected score is
    * pushed below the projection with `vec_dot` inlined once per
    * reference (three per candidate), and a filter after the limit
    * makes TakeOrderedAndProject shuffle its per-partition top-k into
    * a second stage (measured p50 84 ms against 71 ms, 5,000 ×
    * 128-d over two partitions, local[2] on a 4-core VM, interleaved).
    */
  private def topKDefined(candidates: DataFrame, cosine: Column, idCol: String,
      k: Int, keep: Seq[String]): DataFrame =
    candidates
      .select(keep.map(col) :+ explode(array(cosine)).as("cos_sim"): _*)
      .where(col("cos_sim").isNotNull)
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)

  /** Brute-force cosine top-k for a single query vector.
    * `query` must be a frame of at most one row with column `qVec`
    * (more rows are refused with IllegalArgumentException; no row, or
    * a null, zero-norm, NaN or wrong-length vector, answers nothing).
    * Candidates with a null, zero-norm or NaN cosine are dropped.
    */
  def denseTopK(
      candidates: DataFrame, query: DataFrame,
      idCol: String, vecCol: String, qVec: String,
      k: Int, extraCols: Seq[String] = Nil): DataFrame =
    denseTopKOf(candidates, queryVector(query, qVec), idCol, vecCol, k, extraCols)

  /** denseTopK against an already collected query. */
  private[operators] def denseTopKOf(
      candidates: DataFrame, q: QueryVec, idCol: String, vecCol: String,
      k: Int, extraCols: Seq[String]): DataFrame =
    topKDefined(candidates, guardedCosine(col(vecCol), VectorFns.l2Norm(col(vecCol)), q),
      idCol, k, idCol +: extraCols)

  /** k-NN join: top-k candidates per query row by cosine.
    *
    * Top-k is a bounded typed Aggregator (functions.TopKAgg), so Spark
    * plans a PARTIAL ObjectHashAggregate on the map side: each map
    * partition reduces to at most k candidates per query BEFORE the
    * exchange. The shuffle moves O(numQueries · k · mapPartitions)
    * rows — never the |C|·|Q| scored cross product. Requires a long
    * candidate id (use zipWithIndex/monotonic ids upstream otherwise).
    */
  def knnJoin(
      candidates: DataFrame, queries: DataFrame,
      candId: String, candVec: String,
      qId: String, qVec: String, k: Int): DataFrame = {
    // fail fast: a non-integral id would silently null under the long
    // cast and then blow up in ScoredId's primitive encoder at runtime
    candidates.schema(candId).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"knnJoin candidate id '$candId' must be integral, got ${other.sql}")
    }
    val q = queries.select(col(qId), col(qVec))
      .withColumn("qnrm", VectorFns.l2Norm(col(qVec)))
    val scored = candidates
      .withColumn("cnrm", VectorFns.l2Norm(col(candVec)))
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", rankableCosine(col(candVec), col(qVec), col("cnrm"), col("qnrm")))
    topKPerQuery(scored, qId, candId, k)
  }

  /** Multi-query score: the rounded cosine with an undefined one (NULL
    * or NaN) mapped to -Infinity instead of filtered out, so the
    * optimizer has no guard to push into the join condition (where it
    * would inline `vec_dot` once per reference), and ScoredId's
    * primitive encoder never sees a NULL.
    */
  private def rankableCosine(a: Column, b: Column, na: Column, nb: Column): Column =
    coalesce(nanvl(round(VectorFns.cosinePrenormed(a, b, na, nb), 6),
      lit(null).cast("double")), lit(Double.NegativeInfinity))

  /** TopKAgg per query over `cos_sim`, then the -Infinity rows are
    * dropped. Defined cosines lie in [-1, 1], so a -Infinity row only
    * fills a slot no defined candidate wanted and sorts after every
    * kept row: the kept rows and their `rnk` are those of filtering
    * first.
    */
  private def topKPerQuery(scored: DataFrame, qId: String, idCol: String,
      k: Int): DataFrame = {
    val topk = udaf(new TopKAgg(k))
    scored
      .groupBy(col(qId))
      .agg(topk(col("cos_sim"), col(idCol).cast("long")).as("tk"))
      .select(col(qId), posexplode(col("tk")).as(Seq("pos", "nb")))
      .where(col("nb.score") > Double.NegativeInfinity)
      .select(col(qId), col("nb.id").as(idCol), col("nb.score").as("cos_sim"),
        (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Pairwise cosine between group centroids: the array centroids
    * self-joined under `ga < gb` (|groups|² pairs, centroid-scale),
    * each pair scored with `round(cosinePrenormed, 6)`. A pair with no
    * defined cosine (a zero-norm centroid, or two centroids of
    * different lengths) is dropped. The score comes out of a generator,
    * as in topKDefined, so the NULL filter is not pushed into the join
    * condition with a second `vec_dot` per pair. Uncached: AQE reuses
    * the centroid aggregate's exchange for both sides (ProfileAll
    * sf0.01: 6 jobs and 7 KB shuffled; cached, 7 jobs and 7 KB).
    */
  def centroidSimilarity(
      vectors: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val c = centroidArrays(vectors, groupCol, vecCol)
      .withColumn("cnrm", VectorFns.l2Norm(col("centroid")))
    val a = c.select(col(groupCol).as("ga"), col("centroid").as("ca"), col("cnrm").as("na"))
    val b = c.select(col(groupCol).as("gb"), col("centroid").as("cb"), col("cnrm").as("nb"))
    a.join(b, col("ga") < col("gb"))
      .select(col("ga"), col("gb"), explode(array(round(VectorFns.cosinePrenormed(
        col("ca"), col("cb"), col("na"), col("nb")), 6))).as("centroid_cos"))
      .where(col("centroid_cos").isNotNull)
  }

  /** Embedding-drift monitor between two snapshots (the encoder-
    * version canary): per group, the cosine between the OLD
    * snapshot's centroid and the NEW one's, plus both row counts and
    * a stable/drifted status on the ROUNDED cosine (the repo's
    * threshold protocol — a last-ulp drift can never flip the flag
    * between engines). A silently-deployed encoder change shows up
    * here as a centroid rotation long before recall telemetry
    * degrades, and the check costs two narrow scans instead of a
    * re-index.
    *
    * Scale shape: each side collapses to one centroid row per group
    * (centroidArrays, one map-side-combined aggregate), the two
    * |groups|-row frames join on the group and are scored with
    * centroidSimilarity's cosine, and the row counts are two more
    * partial aggregates broadcast back. Groups present in only one
    * snapshot have no defined drift and are absent (sparse contract).
    */
  def embDrift(
      oldVecs: DataFrame, newVecs: DataFrame,
      groupCol: String, vecCol: String, minCos: Double): DataFrame = {
    require(minCos >= -1.0 && minCos <= 1.0,
      s"embDrift: minCos must be in [-1, 1], got $minCos")
    val co = centroidArrays(oldVecs, groupCol, vecCol)
      .select(col(groupCol), col("centroid").as("co"))
    val cn = centroidArrays(newVecs, groupCol, vecCol)
      .select(col(groupCol), col("centroid").as("cn"))
    val sims = co.join(cn, Seq(groupCol))
      .select(col(groupCol),
        round(VectorFns.cosine(col("co"), col("cn")), 6).as("centroid_cos"))
    val nOld = oldVecs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_old"))
    val nNew = newVecs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_new"))
    sims.join(broadcast(nOld), Seq(groupCol))
      .join(broadcast(nNew), Seq(groupCol))
      .select(col(groupCol), col("n_old"), col("n_new"),
        col("centroid_cos"),
        when(col("centroid_cos").isNull, "degenerate")
          .when(col("centroid_cos") < minCos, "drifted")
          .otherwise("stable").as("status"))
  }

  /** Element-wise mean vector per group, one row per group
    * (`groupCol`, `centroid` as array<double>): the centroids of
    * centroidSimilarity, embDrift and Lloyd, and a codebook for
    * assignCells and the IVF probes (reference: vector_store.py:508
    * averages chunk embeddings per paper). One aggregate, MLlib's
    * `Summarizer.mean` over the vectors widened to doubles: its
    * per-group buffer is combined map-side, so the exchange carries
    * one d-wide partial per group per map partition.
    *
    * Bad-input rule:
    *  - a NULL vector, an empty one, or one with a NULL element enters
    *    no mean;
    *  - a group left with no vector has no row;
    *  - a group whose vectors differ in length is refused: the job
    *    fails (Summarizer's dimension-mismatch error);
    *  - a NaN element makes its position's mean NaN; an infinite one
    *    makes it ±Infinity or NaN (by order of arrival), so a cosine
    *    against that centroid is NaN (NULL against a zero vector).
    */
  def centroidArrays(
      vectors: DataFrame, groupCol: String, vecCol: String): DataFrame =
    vectors
      .where(size(col(vecCol)) > 0 && !exists(col(vecCol), _.isNull))
      .groupBy(col(groupCol))
      .agg(vector_to_array(Summarizer.mean(array_to_vector(VectorFns.asDouble(col(vecCol)))))
        .as("centroid"))

  /** Nearest-centroid assignment — the shared building block of IVF and
    * Lloyd/k-means training. The codebook (`groupCol`, `centroid`) is
    * collected on the driver once (no job when it is local, one
    * otherwise, as the broadcast it replaces) and every row is scored
    * by ONE native NearestCell pass over it: cosine rounded to 6 dp,
    * strict max, ties to the smallest cell. The big side is a narrow
    * projection — no join, no broadcast, no exchange (a crossJoin +
    * window would shuffle |corpus|·K rows).
    *
    * Bad-input rule: an undefined vector (NULL, a NULL element, zero
    * norm, or no centroid of its length) gets a NULL cell and is never
    * probed (see NearestCell).
    *
    * The cell comes out of a generator, `explode(array(cell))`, one
    * row per input row, so a filter on it — annIvfProbe's static cell
    * list over an on-the-fly assignment — stays above the kernel: a
    * filter on a projected cell would be pushed below the projection
    * with the kernel inlined a second time (the topKDefined device).
    * Output: (idCol, vecCol, cnrm, cell).
    */
  def assignCells(
      candidates: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, groupCol: String): DataFrame = {
    val cell = ColumnShim.column(NearestCell(ColumnShim.expression(col(vecCol)),
      ColumnShim.expression(col("cnrm")), cellBook(centroids, groupCol)))
    candidates
      .withColumn("cnrm", VectorFns.l2Norm(col(vecCol)))
      .select(col(idCol), col(vecCol), col("cnrm"), explode(array(cell)).as("cell"))
  }

  /** The codebook (`groupCol`, `centroid`) collected on the driver
    * for `objective`, each centroid's term computed by cellTerm.
    */
  private[graft] def cellBook(centroids: DataFrame, groupCol: String,
      objective: CellBook.Objective = CellBook.Cosine): CellBook = {
    val rows = centroids
      .select(col(groupCol), col("centroid"), cellTerm(col("centroid"), objective))
      .collect()
    CellBook(centroids.schema(groupCol).dataType,
      rows.toSeq.map(r => (r.get(0), r.getAs[scala.collection.Seq[Any]](1), r.get(2))), objective)
  }

  /** A centroid's CellBook term: its `l2Norm` (the same expression as
    * a candidate's) under cosine, its `normSq / 2` under L2.
    */
  private[operators] def cellTerm(centroid: Column, objective: CellBook.Objective): Column =
    objective match {
      case CellBook.Cosine => VectorFns.l2Norm(centroid)
      case CellBook.L2 => VectorFns.normSq(centroid) / 2.0
    }

  /** The NearestCell of `vec` in `book`. A cosine book reads the
    * vector's `l2Norm`; an L2 book reads no norm.
    */
  private[graft] def nearestCell(vec: Column, book: CellBook): Column = {
    val cnrm = book.objective match {
      case CellBook.Cosine => VectorFns.l2Norm(vec)
      case CellBook.L2 => lit(0.0)
    }
    ColumnShim.column(NearestCell(ColumnShim.expression(vec), ColumnShim.expression(cnrm), book))
  }

  /** `frame` collected into a driver-local relation (a codebook: k
    * rows). Collecting a local frame again costs no job, so a codebook
    * read twice — assignment and probe ranking — is computed once.
    */
  private[operators] def local(frame: DataFrame): DataFrame =
    frame.sparkSession.createDataFrame(java.util.Arrays.asList(frame.collect(): _*), frame.schema)

  private val CodebookSchema = StructType(Seq(
    StructField("cell", IntegerType), StructField("centroid", ArrayType(DoubleType))))

  /** Deterministic spherical k-means (Lloyd) codebook trainer: init =
    * the k lowest-id vectors, numbered 0..k-1 in id order, then `iters`
    * rounds of narrow kernel assignment + per-cell mean (lloyd, with
    * the cosine objective). Per iteration the corpus is scanned once
    * with zero exchange (assignment) and only the per-cell partial
    * means shuffle (centroidArrays) — the general codebook path when
    * no natural cells exist. Cosine (spherical) assignment matches the
    * retrieval metric. Deterministic: id-ordered init,
    * tie-to-smallest-cell assignment.
    *
    * The codebook can end up with FEWER than k cells: duplicate seed
    * vectors collapse under cosine assignment, and a cell that wins
    * no vectors in an iteration simply drops out of the groupBy (the
    * standard empty-cluster shrink of Lloyd's algorithm). Callers
    * sizing nprobe against K should read the returned frame's actual
    * cell count, not the requested k — annIvf's probe fraction is
    * nprobe / |codebook|.
    *
    * Bad-input rule (`trains`): a NULL, zero, NaN or infinite vector
    * neither seeds a cell nor enters a mean. k < 1 is refused.
    *
    * The returned frame is a local relation (see lloyd), so callers
    * collect it for free.
    */
  def lloydCentroids(
      vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    require(k >= 1, s"k=$k must be at least one cell")
    lloyd(vectors, vecCol, seedVectors(vectors, idCol, vecCol, k, CellBook.Cosine), iters,
      CellBook.Cosine)
  }

  /** Lloyd's training rule: normSq finite (Spark orders NaN above +∞;
    * NULL fails) and, under cosine, positive.
    */
  private def trains(vec: Column, objective: CellBook.Objective): Column = {
    val n2 = VectorFns.normSq(vec)
    objective match {
      case CellBook.Cosine => n2 > 0.0 && n2 < Double.PositiveInfinity
      case CellBook.L2 => n2 < Double.PositiveInfinity
    }
  }

  /** The k lowest-id training vectors (see `trains`) widened to
    * doubles, in id order (one top-k job).
    */
  private[operators] def seedVectors(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, objective: CellBook.Objective): Seq[scala.collection.Seq[Any]] =
    vectors.where(trains(col(vecCol), objective)).orderBy(col(idCol)).limit(k)
      .select(VectorFns.asDouble(col(vecCol))).collect().toSeq
      .map(_.getAs[scala.collection.Seq[Any]](0))

  /** Lloyd's loop with the codebook on the driver, shared by
    * lloydCentroids (cosine) and Pq.train (L2): `seeds(i)` is cell i's
    * initial centroid, then each of `iters` rounds assigns every
    * training vector (see `trains`) with one NearestCell pass under
    * `objective` and collects the per-cell means (centroidArrays, one
    * job) into a local relation that the next round reads without a
    * job. A cell's vectors all share its centroid's length, so the mean
    * never meets centroidArrays' mixed-length refusal. A NULL cell (no
    * centroid of its length) enters no mean; it comes out of
    * a generator, as in assignCells. Iteration n's plan never nests
    * iteration n−1's, so there is no lineage to truncate.
    */
  private[operators] def lloyd(vectors: DataFrame, vecCol: String,
      seeds: Seq[scala.collection.Seq[Any]], iters: Int,
      objective: CellBook.Objective): DataFrame = {
    var cents = vectors.sparkSession.createDataFrame(java.util.Arrays.asList(
      seeds.indices.map(i => Row(i, seeds(i))): _*), CodebookSchema)
    val training = vectors.where(trains(col(vecCol), objective))
    for (_ <- 1 to iters) {
      val assigned = training.select(col(vecCol),
        explode(array(nearestCell(col(vecCol), cellBook(cents, "cell", objective)))).as("cell"))
        .where(col("cell").isNotNull)
      cents = local(centroidArrays(assigned, "cell", vecCol).select(col("cell"), col("centroid")))
    }
    cents
  }

  /** The most (query, cell) probe scores annIvfBatch collects — |Q|·K
    * for Q queries over a K-cell codebook; a larger batch is refused
    * (split it, or use knnJoin).
    */
  val MaxProbeRows = 100000

  /** Batch IVF ANN: top-k per query for a WHOLE query set, scoring
    * only probed cells — the bulk-retrieval scale path (knnJoin
    * scores |C|·|Q| pairs; here each candidate is scored only against
    * the queries probing its cell, ~nprobe/K of the query set).
    *
    * Shape: the codebook is collected once into a local relation (as
    * in annIvf); one zero-exchange assignment pass over the corpus (see
    * assignCells); the |Q|·K (query, cell, pcos) scores — probeCells'
    * projection, with the query vector as a column — are collected
    * (refused above MaxProbeRows) and each query's cells ranked on the
    * driver by rankCells; then candidates join the local probe list
    * and the broadcast query vectors, reduced per query by the bounded
    * map-side TopKAgg. A NULL or zero-norm query probes its first
    * nprobe cells by cell and answers nothing. Requires integral query
    * ids (TopKAgg contract, like knnJoin).
    */
  def annIvfBatch(
      candidates: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, qId: String, qVec: String,
      groupCol: String, nprobe: Int, k: Int): DataFrame = {
    val qs = queries.select(col(qId), col(qVec))
      .withColumn("qnrm", VectorFns.l2Norm(col(qVec)))
    val book = local(centroids.select(col(groupCol).as("cgroup"), col("centroid")))
    val assigned = assignCells(candidates, book, idCol, vecCol, "cgroup")
    val scores = book
      .crossJoin(qs.select(col(qId), col(qVec), col("qnrm")))
      .select(col(qId), col("cgroup"), probeScore(col(qVec), col("qnrm")))
      .limit(MaxProbeRows + 1).collect()
    require(scores.length <= MaxProbeRows,
      s"annIvfBatch: more than MaxProbeRows=$MaxProbeRows (query, cell) probe scores")
    val cellType = centroids.schema(groupCol).dataType
    val probed = scores.toSeq.groupBy(_.get(0)).toSeq.flatMap { case (q, rows) =>
      rankCells(cellType, rows.map(r => (r.get(1), r.get(2))), nprobe).map(Row(q, _))
    }
    val probes = qs.sparkSession.createDataFrame(java.util.Arrays.asList(probed: _*),
      StructType(Seq(StructField("pq", qs.schema(qId).dataType),
        StructField("cell", cellType))))
    val scored = assigned
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(qs), col("pq") === col(qId))
      .withColumn("cos_sim", rankableCosine(col(vecCol), col(qVec), col("cnrm"), col("qnrm")))
    topKPerQuery(scored, qId, idCol, k)
  }

  /** IVF-style ANN with assignment on the fly: annIvfProbe over
    * assignCells. Every vector is assigned to its nearest coarse
    * centroid (one native pass, zero exchange), the `nprobe` cells
    * nearest to the query are ranked on the driver, and exact cosine
    * runs inside the probed cells only. The codebook is collected once
    * into a local relation that both steps read. `query` follows
    * denseTopK's single-query rules.
    */
  def annIvf(
      candidates: DataFrame, query: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, qVec: String, groupCol: String,
      nprobe: Int, k: Int): DataFrame = {
    val book = local(centroids.select(col(groupCol), col("centroid")))
    annIvfProbe(assignCells(candidates, book, idCol, vecCol, groupCol), query, book,
      idCol, vecCol, qVec, groupCol, nprobe, k)
  }

  /** The nprobe coarse cells nearest to ONE literal query vector,
    * ranked on the driver (rankCells) from the codebook's collected
    * (cell, pcos) pairs. The score is a Catalyst projection over the
    * codebook, which Spark evaluates without a job when the codebook
    * is a local relation (ConvertToLocalRelation); any other codebook
    * costs one job. Shared by annIvfProbe and Pq.ivfSq8TopK, which
    * scan the probed cells through a static `IN` filter.
    */
  private[operators] def probeCells(
      q: QueryVec, centroids: DataFrame, groupCol: String,
      nprobe: Int): Seq[Any] = {
    val pairs = centroids.select(col(groupCol), probeScore(q.vec, q.norm)).collect()
    rankCells(centroids.schema(groupCol).dataType, pairs.toSeq.map(r => (r.get(0), r.get(1))),
      nprobe)
  }

  /** A codebook row's probe score (pcos), which probeCells and annIvfBatch rank by. */
  private def probeScore(qVec: Column, qNorm: Column): Column =
    round(VectorFns.cosinePrenormed(col("centroid"), qVec, VectorFns.l2Norm(col("centroid")),
      qNorm), 6)

  /** The first `nprobe` cells of (cell, pcos) pairs in the order of
    * `orderBy(pcos.desc, cell).limit(nprobe)`: pcos descending with a
    * NULL last, compared as Spark compares doubles (NaN ranks highest,
    * -0.0 ties 0.0), then the cell ascending with a NULL first. Cells
    * are external values of `cellType`.
    */
  private[graft] def rankCells(cellType: DataType, pairs: Seq[(Any, Any)],
      nprobe: Int): Seq[Any] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(cellType)
    val byCell = VectorExpressions.cellOrdering(cellType)
    // (Catalyst cell, pcos)
    val rank: Ordering[(Any, Any)] = (a, b) => (a._2, b._2) match {
      case (x: Double, y: Double) if SQLOrderingUtil.compareDoubles(x, y) != 0 =>
        SQLOrderingUtil.compareDoubles(y, x)
      case (null, y) if y != null => 1
      case (x, null) if x != null => -1
      case _ => byCell.compare(a._1, b._1)
    }
    pairs.map { case (c, s) => (c, (toCatalyst(c), s)) }.sortBy(_._2)(rank).take(nprobe).map(_._1)
  }

  /** Exact-cosine top-k over an already-cell-pruned candidate frame
    * (idCol, vecCol, cnrm, cell) against a literal query vector — the
    * shared scoring tail of the IVF family, with denseTopK's guard
    * after the limit. Terminates in TakeOrderedAndProject; no shuffle.
    */
  private def scoreProbedTopK(
      pruned: DataFrame, q: QueryVec, idCol: String, vecCol: String,
      k: Int): DataFrame =
    topKDefined(pruned, guardedCosine(col(vecCol), col("cnrm"), q), idCol, k, Seq(idCol, "cell"))

  /** Probe an ALREADY-ASSIGNED IVF index — the persisted-index regime
    * where assignment ran at ingest (assignCells / an append batch)
    * and the (id, vec, cnrm, cell) rows live in a table PARTITIONED by
    * `cell` (Corpus.writePartitioned). Two-phase, like every on-disk
    * IVF engine: first the nprobe nearest cells are ranked on the
    * driver (probeCells: no job for a local codebook, one for any
    * other), then the index is scanned with a STATIC `cell IN (...)`
    * predicate. The literal predicate is what turns cell pruning from
    * a row filter into partition pruning — un-probed cells' FILES are
    * skipped at listing time (`PartitionFilters: [cell IN ...]`). The
    * probe plan is exchange-free: scan → literal-query score →
    * TakeOrderedAndProject, one job. The index never re-assigns and its
    * vectors never shuffle. Spec-pinned in SearchSpec and IvfSpec.
    * annIvf is this probe over an on-the-fly assignment.
    *
    * `assigned` must carry assignCells' output columns: idCol,
    * vecCol, `cnrm` (vector L2 norm) and `cell`.
    */
  def annIvfProbe(
      assigned: DataFrame, query: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, qVec: String, groupCol: String,
      nprobe: Int, k: Int): DataFrame = {
    val q = queryVector(query, qVec)
    val cells = probeCells(q, centroids, groupCol, nprobe)
    scoreProbedTopK(assigned.where(col("cell").isin(cells: _*)),
      q, idCol, vecCol, k)
  }

  /** MMR diversification (Carbonell & Goldstein, SIGIR 1998):
    * greedily re-rank the top-candK relevance shortlist so each pick
    * maximizes lambda*rel - (1-lambda)*max-sim-to-already-picked —
    * the standard vector-store knob against near-duplicate result
    * lists. The greedy recurrence is inherently sequential over a
    * BOUNDED shortlist, so this is a guarded driver device like
    * closenessCentrality: the distributed work is the denseTopK
    * shortlist; the candK x candK greedy runs on the driver behind
    * an explicit maxCandidates require (REFUSES rather than
    * silently collecting a corpus).
    *
    * Cross-engine protocol: rel scores are denseTopK's rounded
    * cos_sim verbatim; pairwise sims and per-step MMR scores round
    * to 6dp with the +1e-9 nudge BEFORE each argmax (both engines
    * compare identical rounded states — the centrality device); ties
    * break to the smaller id. `idCol` must be LongType.
    */
  def mmrRerank(
      candidates: DataFrame, query: DataFrame, idCol: String,
      vecCol: String, qVec: String, candK: Int, k: Int,
      lambda: Double, maxCandidates: Int = 500): DataFrame = {
    require(candK <= maxCandidates,
      s"mmrRerank: candK=$candK exceeds maxCandidates=$maxCandidates")
    require(k >= 1 && k <= candK, s"mmrRerank: k=$k out of [1, $candK]")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"mmrRerank: lambda=$lambda out of [0, 1]")
    val spark = candidates.sparkSession
    import spark.implicits._
    def r6(x: Double): Double =
      BigDecimal(x + 1e-9)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    // bounded by candK (<= maxCandidates, checked above); the vector
    // column is normalized to array<double> BEFORE collect so both
    // array<float> and array<double> embeddings (the whole vector
    // surface accepts either via VectorFns.asDouble) read back
    // uniformly — a raw getAs[Seq[Float]] would ClassCastException
    // on a double column at collect time
    val shortlist = denseTopK(candidates, query, idCol, vecCol, qVec,
      candK, Seq(vecCol))
      .withColumn(vecCol, VectorFns.asDouble(col(vecCol)))
      .collect()
    val ids = shortlist.map(_.getAs[Long](idCol))
    val vecs = shortlist.map(
      _.getAs[scala.collection.Seq[Double]](vecCol).toArray)
    val rels = shortlist.map(_.getAs[Double]("cos_sim"))
    val norms = vecs.map(v => math.sqrt(v.map(x => x * x).sum))
    def sim(i: Int, j: Int): Double = {
      var dot = 0.0
      var d = 0
      while (d < vecs(i).length) { dot += vecs(i)(d) * vecs(j)(d); d += 1 }
      r6(dot / (norms(i) * norms(j)))
    }
    val n = ids.length
    val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Double, Int)]
    while (picked.size < math.min(k, n)) {
      val step = picked.size + 1
      var bestIdx = -1
      var bestScore = Double.NegativeInfinity
      for (i <- 0 until n if !picked.contains(i)) {
        val maxSim =
          if (picked.isEmpty) 0.0 else picked.map(p => sim(i, p)).max
        val score = r6(lambda * rels(i) - (1.0 - lambda) * maxSim)
        // score DESC, id ASC — the repo's universal tiebreak
        if (score > bestScore ||
            (score == bestScore && (bestIdx == -1 || ids(i) < ids(bestIdx)))) {
          bestScore = score; bestIdx = i
        }
      }
      picked += bestIdx
      out += ((ids(bestIdx), rels(bestIdx), bestScore, step))
    }
    out.toSeq.toDF(idCol, "rel", "mmr_score", "pick_order")
  }

  /** Embedding-pipeline health report: per-group vector QC — the
    * gate an ingest pipeline runs before an encoder batch is allowed
    * into the index (a broken encoder run shows up as zero vectors,
    * NaN or NULL components, or a norm drift, and catching it here is
    * 1000× cheaper than re-indexing). Per group: row count,
    * zero-vector count, NaN-component count, null count (a NULL
    * vector or any NULL component — r14 advice: a bare
    * `exists(isnan)` returns NULL on such rows, silently dropping
    * exactly the malformed rows the gate exists to catch), dimension
    * min/max (≠ means a mixed encoder deploy), and norm stats over
    * the HEALTHY rows only (so one bad row can't poison the
    * aggregate). Classification is exclusive and ordered:
    * null → nan → zero → healthy; every row lands in exactly one.
    *
    * Scale shape: one narrow projection computes dim / normSq / flag
    * per row (normSq is the codegen'd VecNormSq fold — linear
    * in d, no shuffle), then ONE map-side-combined groupBy on the
    * group key. Nothing leaves the executors but |groups| rows.
    */
  def embHealth(
      embs: DataFrame, idCol: String, vecCol: String,
      groupCol: String): DataFrame = {
    val n2 = VectorFns.normSq(col(vecCol))
    // exists() propagates NULL (no true hit + null element → NULL),
    // so null-detection must come first and be coalesced explicitly
    val isNull = col(vecCol).isNull ||
      coalesce(exists(col(vecCol), x => x.isNull), lit(false))
    val hasNan = !isNull &&
      exists(col(vecCol), x => isnan(x.cast("double")))
    val perRow = embs.select(col(groupCol),
      size(col(vecCol)).cast("long").as("dim"),
      isNull.as("is_null"),
      hasNan.as("is_nan"),
      when(!isNull && !hasNan, sqrt(n2)).as("nrm"))
      .withColumn("is_zero",
        !col("is_null") && !col("is_nan") && col("nrm") === 0.0)
    val r4 = (c: Column) => round(c + lit(1e-9), 4)
    val healthy = !col("is_null") && !col("is_nan") && !col("is_zero")
    perRow.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("is_zero"), 1L).otherwise(0L)).as("n_zero"),
        sum(when(col("is_nan"), 1L).otherwise(0L)).as("n_nan"),
        sum(when(col("is_null"), 1L).otherwise(0L)).as("n_null"),
        min(col("dim")).as("dim_min"),
        max(col("dim")).as("dim_max"),
        r4(avg(when(healthy, col("nrm")))).as("avg_norm"),
        r4(min(when(healthy, col("nrm")))).as("min_norm"),
        r4(max(when(healthy, col("nrm")))).as("max_norm"))
  }
}
