package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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

  /** Reciprocal Rank Fusion of two ranked lists.
    * Inputs must carry (idCol, rankCol) with 1-based ranks; ids
    * missing from one list contribute 0 from that list (mirrors
    * `fuse_results`, where absent docs simply get no increment).
    * Both lists are top-k prunes of much larger inputs, so the join
    * sees at most 2k rows whatever the corpus size. It is NOT a
    * broadcast join: Spark has no broadcast hash join for FULL OUTER,
    * so it plans a SortMergeJoin — two shuffles and two sorts of those
    * few rows (every hybrid request's AQE final plan in graftbench
    * serve, seed 7). A union + groupBy(id) rewrite (one shuffle, no
    * join) was prototyped twice and measured no better, so it was not
    * kept — graftbench serve, seed 7, traced, one run per arm: with
    * the older HOF BM25 leg, Fusion.rrf.tasks 13 → 13,
    * spark.stages_per_req 4.2 → 4.2, Fusion.rrf.exec_ms 372 → 374;
    * with the Bm25TermCounts leg, tasks 9 → 9, stages_per_req
    * 3.4 → 3.4, exec_ms 391 → 351 (inside run-to-run spread).
    */
  def rrf(
      dense: DataFrame, sparse: DataFrame,
      idCol: String, rankCol: String, k: Int): DataFrame = {
    val d = dense.select(col(idCol), col(rankCol).as("dense_rank"))
    val s = sparse.select(col(idCol), col(rankCol).as("sparse_rank"))
    d.join(s, Seq(idCol), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(DenseWeight) / (lit(RrfK) + col("dense_rank")), lit(0.0)) +
          coalesce(lit(SparseWeight) / (lit(RrfK) + col("sparse_rank")), lit(0.0)), 6))
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("dense_rank"), col("sparse_rank"), col("rrf_score"))
  }

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
