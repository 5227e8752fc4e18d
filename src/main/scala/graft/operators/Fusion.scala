package graft.operators

import java.util.concurrent.{ExecutionException, FutureTask}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFns

/** Rank fusion + rule-based re-ranking — re-expression of the
  * reference's hybrid search and core-paper reranker
  * (reference: backend/app/core/embeddings.py:320 fuse_results —
  * RRF with dense_weight/sparse_weight over 1-based ranks and
  * rrf_k = 60; backend/app/core/core_paper_reranker.py:210-320 —
  * weighted keyword-hit scoring).
  */
object Fusion {
  val RrfK = 60.0
  val DenseWeight = 0.6
  val SparseWeight = 0.4

  /** The most rows `rrf` collects from one leg; a larger leg is
    * refused (both legs are meant to be top-k prunes).
    */
  val MaxLegRows = 10000

  /** Reciprocal Rank Fusion of two ranked lists, fused on the driver.
    * Inputs must carry (idCol, rankCol) with integral 1-based ranks
    * and an integral or string id of the same type on both sides; ids
    * missing from one list contribute 0 from that list (mirrors
    * `fuse_results`, where absent docs simply get no increment).
    *
    * Both lists are top-k prunes of much larger inputs, so each leg is
    * collected — the dense leg on a thread started for this call (it
    * inherits the caller's Spark local properties, job group
    * included), the sparse leg on the calling thread, concurrently —
    * and fused in O(k). A leg over `MaxLegRows` rows is refused rather
    * than collected. The rows are those of a full outer join on the id
    * (duplicate ids pair up, NULL ids never match), scored with the
    * same arithmetic (dense term + sparse term, `round(…, 6)` HALF_UP)
    * and ordered by score desc, id asc (NULLs first), with the ranks as
    * the last tiebreak so a tie at k has one answer. The result is a
    * local frame: (idCol, dense_rank, sparse_rank, rrf_score) with the
    * inputs' id and rank types.
    *
    * History: this was a lazy full outer join. Spark has no broadcast
    * hash join for FULL OUTER, so it planned a SortMergeJoin — two
    * shuffles and two sorts of at most 2k rows per hybrid request (a
    * union + groupBy(id) rewrite measured no better: graftbench serve
    * seed 7, `Fusion.rrf.tasks` 9 → 9; collecting both legs in one
    * union job was slower than concurrent collects in a prototype).
    * Fusing on the driver, with the dense leg's literal query, took
    * graftbench serve `hybrid_p50_ms` from 482 to 366 ms (medians of
    * ten interleaved pairs, local[2] on 4 cores; faster in 10 of 10).
    * The join stays as SearchSpec's oracle.
    */
  def rrf(
      dense: DataFrame, sparse: DataFrame,
      idCol: String, rankCol: String, k: Int): DataFrame = {
    val idType = legType(dense, idCol)
    require(legType(sparse, idCol) == idType,
      s"rrf: '$idCol' is ${idType.sql} in the dense leg but " +
        s"${legType(sparse, idCol).sql} in the sparse leg")
    require(isIntegral(idType) || idType == StringType,
      s"rrf: '$idCol' must be integral or string, got ${idType.sql}")
    val (denseRank, sparseRank) = (legType(dense, rankCol), legType(sparse, rankCol))
    require(isIntegral(denseRank) && isIntegral(sparseRank),
      s"rrf: '$rankCol' must be integral, got ${denseRank.sql} / ${sparseRank.sql}")
    // (id, rank) pairs, as collected: a rank is null or a boxed integral
    def collectLeg(leg: DataFrame, name: String): Array[(Any, Any)] = {
      val rows = leg.select(col(idCol), col(rankCol)).limit(MaxLegRows + 1).collect()
      require(rows.length <= MaxLegRows,
        s"rrf: the $name leg holds more than MaxLegRows=$MaxLegRows rows")
      rows.map(r => (r.get(0), r.get(1)))
    }
    val denseLeg = new FutureTask[Array[(Any, Any)]](() => collectLeg(dense, "dense"))
    val thread = new Thread(denseLeg, "graft-rrf-dense-leg")
    thread.setDaemon(true)
    thread.start()
    val s = try collectLeg(sparse, "sparse") finally thread.join()
    val d = try denseLeg.get() catch { case e: ExecutionException => throw e.getCause }

    // full outer join on the id: matched pairs in dense order, then
    // each unmatched row of either side
    val sparseById = s.filter(_._1 != null).groupBy(_._1)
    val denseIds = d.iterator.map(_._1).filter(_ != null).toSet
    val joined = d.flatMap { case (id, dr) =>
      sparseById.get(id).fold(Array[(Any, Any, Any)]((id, dr, null)))(_.map(x => (id, dr, x._2)))
    } ++ s.collect { case (id, sr) if id == null || !denseIds(id) => (id, null, sr) }
    def term(weight: Double, rank: Any): Double =
      if (rank == null) 0.0 else weight / (RrfK + rank.asInstanceOf[Number].doubleValue)
    val fused = joined.map { case (id, dr, sr) =>
      Row(id, dr, sr, round6(term(DenseWeight, dr) + term(SparseWeight, sr))) }
    val integral = Ordering.by((v: Any) => v.asInstanceOf[Number].longValue)
    val idOrd: Ordering[Any] =
      if (idType == StringType) Ordering.by((v: Any) => UTF8String.fromString(v.asInstanceOf[String]))(
        Ordering.comparatorToOrdering(java.util.Comparator.naturalOrder[UTF8String]()))
      else integral
    val top = fused.sortBy(r => (-r.getDouble(3), Option(r.get(0)), Option(r.get(1)), Option(r.get(2))))(
      Ordering.Tuple4(Ordering.Double.TotalOrdering, Ordering.Option(idOrd),
        Ordering.Option(integral), Ordering.Option(integral))).take(k)
    val schema = StructType(Seq(
      StructField(idCol, idType), StructField("dense_rank", denseRank),
      StructField("sparse_rank", sparseRank), StructField("rrf_score", DoubleType)))
    dense.sparkSession.createDataFrame(top.toSeq.asJava, schema)
  }

  private def legType(leg: DataFrame, c: String): DataType = leg.schema(c).dataType

  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Spark's `round(x, 6)` on a double: HALF_UP on the shortest
    * decimal form of `x`.
    */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** Attach a deterministic 1-based rank ordered by scoreCol desc with
    * id tiebreak. Used to feed `rrf`. Single window over an already
    * top-k-pruned frame — driver-scale rows only, so the WindowExec
    * "No Partition Defined" warning it logs is expected and harmless
    * at any corpus size (only the pruned top-k rows coalesce).
    */
  def ranked(df: DataFrame, idCol: String, scoreCol: String): DataFrame =
    df.withColumn("rank",
      row_number().over(Window.orderBy(col(scoreCol).desc, col(idCol)))
        .cast("long"))

  /** Recency score in year buckets — the reference's exact ladder
    * (reference: backend/app/core/recommender.py:431
    * _calculate_recency_score: age<=1 → 100, <=3 → 80, <=5 → 60,
    * <=7 → 40, else 20). `refYear` replaces datetime.now() so the
    * score is deterministic and oracle-checkable.
    */
  def recencyScore(year: Column, refYear: Int): Column = {
    val age = lit(refYear) - year
    when(age <= 1, 100.0).when(age <= 3, 80.0).when(age <= 5, 60.0)
      .when(age <= 7, 40.0).otherwise(20.0)
  }

  /** Citation-impact score, log-bucket ladder
    * (reference: recommender.py:454 _calculate_impact_score).
    * Null citations (unscraped paper) land in the BOTTOM bucket
    * explicitly — every when() is null-false, so without the guard a
    * null would fall through to otherwise(100.0) and an unknown-
    * citation doc would outrank genuinely high-impact ones.
    * (recencyScore needs no guard: its fall-through IS the bottom
    * bucket.)
    */
  def impactScore(citations: Column): Column =
    when(citations.isNull, 10.0)
      .when(citations <= 0, 10.0).when(citations < 10, 30.0)
      .when(citations < 50, 50.0).when(citations < 100, 70.0)
      .when(citations < 500, 85.0).otherwise(100.0)

  /** Weighted total: similarity 40% + recency 30% + impact 30%
    * (reference: recommender.py:474 _calculate_total_score).
    */
  def totalScore(sim: Column, recency: Column, impact: Column): Column =
    round(sim * 0.4 + recency * 0.3 + impact * 0.3, 6)

  /** Min-max-normalized score fusion — the reference reranker's final
    * combine step (reference: backend/app/core/reranker.py:173-189
    * rerank(): rerank scores min-max-normalized to 0-100 over the
    * CANDIDATE SET, then final = original_weight·original +
    * rerank_weight·normalized, with score_range forced to 1 when the
    * scores are all equal). The normalization windows are global but
    * run over an already top-k-pruned candidate frame — driver-scale
    * rows at any corpus size (same contract as `ranked`).
    *
    * Output adds `rerank_score` (the 0-100 normalized value) and
    * `final_score`, both rounded 6dp.
    */
  def minMaxFuse(
      candidates: DataFrame, origCol: String, scoreCol: String,
      origWeight: Double, rerankWeight: Double): DataFrame = {
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val lo = min(col(scoreCol)).over(all)
    val hi = max(col(scoreCol)).over(all)
    val range = when(hi > lo, hi - lo).otherwise(lit(1.0))
    candidates
      .withColumn("rerank_score",
        round((col(scoreCol) - lo) / range * 100.0 + lit(1e-9), 6))
      .withColumn("final_score",
        round(col(origCol) * origWeight + (col(scoreCol) - lo) / range
          * 100.0 * rerankWeight + lit(1e-9), 6))
  }

  /** Keyword-match similarity on a 0-100 scale (reference:
    * recommender.py:410 _calculate_keyword_similarity — the
    * similarity leg of the recommender's total score): the fraction
    * of the DISTINCT lowercased keywords appearing as substrings of
    * the lowercased text, ×100. The reference's min(100, …) cap is
    * kept for fidelity even though matches ≤ |keywords| makes it
    * inert. Pure narrow projection — codegen'd per row, no shuffle,
    * no tokenization pass (the reference tests substring containment,
    * not token equality).
    */
  def keywordSimilarity(textCol: Column, keywords: Seq[String]): Column = {
    val kws = keywords.map(TextFns.lcRoot).distinct
    require(kws.nonEmpty, "at least one keyword required")
    val matches = kws.map(w =>
      when(lower(textCol).contains(w), 1).otherwise(0)).reduce(_ + _)
    least(lit(100.0), matches.cast("double") / kws.size * 100.0)
  }

  /** Rule-based re-rank score: weighted counts of keyword-group hits
    * plus a length prior, the shape of the reference's
    * centrality/clinical/recency scoring (core_paper_reranker.py:323
    * score_paper). Pure narrow projection — codegen'd, no shuffle.
    */
  def ruleScore(
      docs: DataFrame, idCol: String, textCol: String, lenCol: String,
      centralityKw: Seq[String], clinicalKw: Seq[String],
      k: Int): DataFrame = {
    // case-insensitive like the reference reranker (and like
    // Precision.search's identical hits logic); an empty keyword
    // group scores 0 rather than crashing empty.reduce
    def hits(kws: Seq[String]) = kws.map(w =>
      when(lower(col(textCol)).contains(TextFns.lcRoot(w)), 1).otherwise(0))
      .reduceOption(_ + _).getOrElse(lit(0))
    val scored = docs.select(
      col(idCol),
      hits(centralityKw).as("centrality_hits"),
      hits(clinicalKw).as("clinical_hits"),
      col(lenCol))
      .withColumn("core_score", round(
        col("centrality_hits") * 2.0 + col("clinical_hits") * 1.5 +
          least(col(lenCol).cast("double") / 1000.0, lit(1.0)) * 10.0, 6))
    scored
      .orderBy(col("core_score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("centrality_hits").cast("long").as("centrality_hits"),
        col("clinical_hits").cast("long").as("clinical_hits"), col("core_score"))
  }
}
