package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns
import graft.operators.{Bm25, Fusion, Pq, Precision, Projection, RankEval, Validate, VectorSearch}

/** Vector + sparse + hybrid search queries (the reference's retrieval
  * surface re-expressed on Spark). All scores double-precision,
  * rounded to 6dp, ranked on rounded values with id tiebreaks.
  */
object VectorQueries {

  val QueryTerms: Seq[String] = Seq("spark", "filter", "join", "fast", "slow")
  private val termList = QueryTerms.map(TextFns.sqlLit).mkString(", ")

  /* ---------------- vs_dense_topk ---------------- */

  private def denseTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    VectorSearch.denseTopK(
      emb.where(col("vec_id") =!= 0), q,
      "vec_id", "embedding", "qe", 20, Seq("label"))
  }

  private val denseTopKSql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |ex AS (SELECT e.vec_id, e.label, e.embedding AS ce, q.qe AS qe,
      |         unnest(generate_series(1, len(e.embedding))) AS i
      |       FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
      |dt AS (SELECT vec_id, label,
      |         sum(ce[i]::DOUBLE * qe[i]::DOUBLE) AS dot,
      |         sum(ce[i]::DOUBLE * ce[i]::DOUBLE) AS na,
      |         sum(qe[i]::DOUBLE * qe[i]::DOUBLE) AS nb
      |       FROM ex GROUP BY vec_id, label)
      |SELECT vec_id, label, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_sim
      |FROM dt ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin

  /* ---------------- vs_sq8_topk ---------------- */

  /** Dense top-k over SQ8-compressed vectors (Pq.sq8TopK): the
    * oracle-checked member of the compression family — per-dim
    * byte codes, midpoint reconstruction, asymmetric cosine. The
    * oracle replays the identical IEEE arithmetic, so even the
    * floor() bucket boundaries hash-match.
    */
  private def sq8TopK(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    Pq.sq8TopK(emb.where(col("vec_id") =!= 0), q,
      "vec_id", "embedding", "qe", 20, Seq("label"))
  }

  private val sq8TopKSql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |ex0 AS (SELECT e.vec_id, e.label, e.embedding AS ce,
      |         unnest(generate_series(1, len(e.embedding))) AS i
      |       FROM embeddings e WHERE e.vec_id <> 0),
      |ev AS (SELECT vec_id, label, i, ce[i]::DOUBLE AS v FROM ex0),
      |st AS (SELECT i, min(v) AS mn, max(v) AS mx FROM ev GROUP BY i),
      |cd AS (SELECT ev.vec_id, ev.label, ev.i,
      |         CASE WHEN st.mx > st.mn
      |           THEN floor(((ev.v - st.mn) / (st.mx - st.mn)) * 255.0)::BIGINT
      |           ELSE 0 END AS code
      |       FROM ev JOIN st USING (i)),
      |rc AS (SELECT cd.vec_id, cd.label, cd.i,
      |         st.mn + (cd.code::DOUBLE + 0.5) * (st.mx - st.mn) / 256.0 AS r
      |       FROM cd JOIN st USING (i)),
      |qx AS (SELECT qe, unnest(generate_series(1, len(qe))) AS i FROM q),
      |qv AS (SELECT i, qe[i]::DOUBLE AS qv FROM qx),
      |dt AS (SELECT rc.vec_id, rc.label,
      |         sum(rc.r * qv.qv) AS dot, sum(rc.r * rc.r) AS na,
      |         sum(qv.qv * qv.qv) AS nb
      |       FROM rc JOIN qv USING (i) GROUP BY rc.vec_id, rc.label)
      |SELECT vec_id, label, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_sim
      |FROM dt ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin

  /* ---------------- vs_filtered_topk ---------------- */

  /** Dense top-k WITH a metadata filter (the reference's _dense_search
    * takes `where` metadata filters; ChromaDB applies them pre-search).
    * The label predicate reaches the parquet scan as a pushed filter —
    * at 100 TB the filter prunes before any vector math runs.
    */
  private def filteredTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    VectorSearch.denseTopK(
      emb.where(col("vec_id") =!= 0 && col("label").isin(1, 2, 3)), q,
      "vec_id", "embedding", "qe", 10, Seq("label"))
  }

  private val filteredTopKSql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |ex AS (SELECT e.vec_id, e.label, e.embedding AS ce, q.qe AS qe,
      |         unnest(generate_series(1, len(e.embedding))) AS i
      |       FROM embeddings e CROSS JOIN q
      |       WHERE e.vec_id <> 0 AND e.label IN (1, 2, 3)),
      |dt AS (SELECT vec_id, label,
      |         sum(ce[i]::DOUBLE * qe[i]::DOUBLE) AS dot,
      |         sum(ce[i]::DOUBLE * ce[i]::DOUBLE) AS na,
      |         sum(qe[i]::DOUBLE * qe[i]::DOUBLE) AS nb
      |       FROM ex GROUP BY vec_id, label)
      |SELECT vec_id, label, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_sim
      |FROM dt ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  /* ---------------- vs_section_topk ---------------- */

  /** Section-scoped dense search (reference: vector_store.py:420
    * search_by_section, search.py:100 search_methods — retrieval
    * filtered to one paper section). Demo binding derives the section
    * from document text via Chunker.tagSections and joins on
    * vec_id = doc_id; in production the section is a STORED column on
    * the vector table (written at ingest by the section-aware
    * chunker), so the predicate prunes at the scan with no join —
    * ChunkerSpec asserts the PartitionFilters shape for that layout.
    */
  private def sectionTopK(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Chunker
    val secs = Chunker.tagSections(
      Tables.documents(s, d).select(col("doc_id").as("sdoc"), col("text")),
      "text", TextQueries.SectionMarkers, TextQueries.DefaultSection)
      .select(col("sdoc"), col("section"))
    val emb = Tables.embeddings(s, d)
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    val cands = emb.where(col("vec_id") =!= 0)
      .join(secs, col("vec_id") === col("sdoc"))
      .where(col("section") === "methods")
      .select(col("vec_id"), col("embedding"), col("section"))
    VectorSearch.denseTopK(cands, q, "vec_id", "embedding", "qe", 10,
      Seq("section"))
  }

  private val sectionTopKSql =
    s"""WITH sp AS (SELECT doc_id,
       |    ${SqlSnippets.sectionPosCols(TextQueries.SectionMarkers, "text")}
       |  FROM documents),
       |sec AS (SELECT doc_id,
       |    ${SqlSnippets.sectionCase(TextQueries.SectionMarkers, TextQueries.DefaultSection)}
       |      AS section
       |  FROM sp),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |ex AS (SELECT e.vec_id, sec.section, e.embedding AS ce, q.qe AS qe,
       |         unnest(generate_series(1, len(e.embedding))) AS i
       |       FROM embeddings e JOIN sec ON e.vec_id = sec.doc_id CROSS JOIN q
       |       WHERE e.vec_id <> 0 AND sec.section = 'methods'),
       |dt AS (SELECT vec_id, section,
       |         sum(ce[i]::DOUBLE * qe[i]::DOUBLE) AS dot,
       |         sum(ce[i]::DOUBLE * ce[i]::DOUBLE) AS na,
       |         sum(qe[i]::DOUBLE * qe[i]::DOUBLE) AS nb
       |       FROM ex GROUP BY vec_id, section)
       |SELECT vec_id, section, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_sim
       |FROM dt ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  /* ---------------- vs_knn_join ---------------- */

  private def knnJoin(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qs = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cs = emb.where(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    VectorSearch.knnJoin(cs, qs, "cid", "ce", "qid", "qe", 5)
      .orderBy(col("qid"), col("rnk"))
  }

  private val knnJoinSql =
    """WITH qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
      |cs AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
      |ex AS (SELECT qid, cid, ce, qe, unnest(generate_series(1, len(ce))) AS i
      |       FROM qs CROSS JOIN cs),
      |dt AS (SELECT qid, cid,
      |         sum(ce[i]::DOUBLE * qe[i]::DOUBLE) AS dot,
      |         sum(ce[i]::DOUBLE * ce[i]::DOUBLE) AS na,
      |         sum(qe[i]::DOUBLE * qe[i]::DOUBLE) AS nb
      |       FROM ex GROUP BY qid, cid),
      |sc AS (SELECT qid, cid, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_sim FROM dt),
      |rk AS (SELECT qid, cid, cos_sim,
      |         row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid)::BIGINT AS rnk
      |       FROM sc)
      |SELECT qid, cid, cos_sim, rnk FROM rk WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  /* ---------------- vs_centroid_sim ---------------- */

  private def centroidSim(s: SparkSession, d: String): DataFrame =
    VectorSearch.centroidSimilarity(
      Tables.embeddings(s, d), "label", "embedding")
      .orderBy(col("ga"), col("gb"))

  private val centroidSimSql =
    """WITH le AS (SELECT label, embedding,
      |         unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
      |c AS (SELECT label, i, avg(embedding[i]::DOUBLE) AS v FROM le GROUP BY label, i),
      |n AS (SELECT label, sum(v * v) AS ns FROM c GROUP BY label),
      |p AS (SELECT a.label AS ga, b.label AS gb, sum(a.v * b.v) AS dot
      |      FROM c a JOIN c b ON a.i = b.i AND a.label < b.label GROUP BY 1, 2)
      |SELECT ga, gb,
      |  round(dot / nullif(sqrt(na.ns) * sqrt(nb.ns), 0.0), 6) AS centroid_cos
      |FROM p JOIN n na ON p.ga = na.label JOIN n nb ON p.gb = nb.label
      |WHERE dot / nullif(sqrt(na.ns) * sqrt(nb.ns), 0.0) IS NOT NULL
      |ORDER BY ga, gb""".stripMargin

  /* ---------------- vs_similar_papers ---------------- */

  /** Per-paper similar-papers top-k (reference: vector_store.py:538
    * find_similar_papers — mean chunk embedding per paper, cosine
    * top-k against every OTHER paper). Papers = label groups; the
    * composition is centroidArrays → knnJoin with centroids on BOTH
    * sides, so the per-paper selection still goes through the bounded
    * map-side TopKAgg. The self-pair (cosine exactly 1.0) is excluded
    * after a k+1 bounded selection and rank recomputed over the
    * survivors — a ≤k+1-row window per paper, not a corpus window.
    */
  private val SimilarK = 3

  private def similarPapers(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = VectorSearch.centroidArrays(
      Tables.embeddings(s, d), "label", "embedding")
    val cands = cents.select(col("label").cast("long").as("cid"),
      col("centroid").as("ce"))
    val qs = cents.select(col("label").cast("long").as("paper"),
      col("centroid").as("qe"))
    VectorSearch.knnJoin(cands, qs, "cid", "ce", "paper", "qe", SimilarK + 1)
      .where(col("cid") =!= col("paper"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("paper"))
          .orderBy(col("cos_sim").desc, col("cid"))).cast("long"))
      .where(col("rnk") <= SimilarK)
      .select(col("paper"), col("cid").as("similar_paper"),
        col("cos_sim"), col("rnk"))
      .orderBy(col("paper"), col("rnk"))
  }

  private val similarPapersSql =
    s"""WITH le AS (SELECT label, embedding,
       |         unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
       |c AS (SELECT label, i, avg(embedding[i]::DOUBLE) AS v FROM le GROUP BY label, i),
       |n AS (SELECT label, sum(v * v) AS ns FROM c GROUP BY label),
       |p AS (SELECT a.label AS paper, b.label AS cid, sum(a.v * b.v) AS dot
       |      FROM c a JOIN c b ON a.i = b.i GROUP BY 1, 2),
       |sc AS (SELECT paper, cid,
       |         round(dot / (sqrt(na.ns) * sqrt(nb.ns)), 6) AS cos_sim
       |       FROM p JOIN n na ON p.paper = na.label
       |       JOIN n nb ON p.cid = nb.label),
       |rk AS (SELECT paper, cid, cos_sim,
       |         row_number() OVER (PARTITION BY paper
       |           ORDER BY cos_sim DESC, cid)::BIGINT AS rnk
       |       FROM sc WHERE paper <> cid)
       |SELECT paper::BIGINT AS paper, cid::BIGINT AS similar_paper, cos_sim, rnk
       |FROM rk WHERE rnk <= $SimilarK ORDER BY paper, rnk""".stripMargin

  /* ---------------- vs_ann_ivf ---------------- */

  private def annIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val centroids = VectorSearch.centroidArrays(emb, "label", "embedding")
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    VectorSearch.annIvf(emb, q, centroids,
      "vec_id", "embedding", "qe", "label", nprobe = 3, k = 10)
  }

  private val annIvfSql =
    """WITH le AS (SELECT label, embedding,
      |         unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
      |c AS (SELECT label, i, avg(embedding[i]::DOUBLE) AS v FROM le GROUP BY label, i),
      |cn AS (SELECT label, sum(v * v) AS ns FROM c GROUP BY label),
      |ev AS (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) AS i
      |       FROM embeddings),
      |en AS (SELECT vec_id, sum(embedding[i]::DOUBLE * embedding[i]::DOUBLE) AS ns
      |       FROM ev GROUP BY vec_id),
      |ass0 AS (SELECT ev.vec_id, c.label, sum(ev.embedding[ev.i]::DOUBLE * c.v) AS dot
      |         FROM ev JOIN c ON ev.i = c.i GROUP BY 1, 2),
      |ass1 AS (SELECT a.vec_id, a.label,
      |           round(a.dot / (sqrt(en.ns) * sqrt(cn.ns)), 6) AS s
      |         FROM ass0 a JOIN en ON a.vec_id = en.vec_id JOIN cn ON a.label = cn.label),
      |ass AS (SELECT vec_id, label AS cell FROM (
      |          SELECT vec_id, label,
      |            row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, label) AS rn
      |          FROM ass1) WHERE rn = 1),
      |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |qn AS (SELECT sum(x::DOUBLE * x::DOUBLE) AS ns FROM (SELECT unnest(qe) AS x FROM q)),
      |qc AS (SELECT c.label, sum(q.qe[c.i]::DOUBLE * c.v) AS dot
      |       FROM c CROSS JOIN q GROUP BY c.label),
      |probe AS (SELECT label AS cell FROM (
      |            SELECT qc.label, round(qc.dot / (sqrt(qn.ns) * sqrt(cn.ns)), 6) AS s
      |            FROM qc CROSS JOIN qn JOIN cn ON qc.label = cn.label)
      |          ORDER BY s DESC, cell LIMIT 3),
      |cand AS (SELECT e.vec_id, ass.cell, e.embedding
      |         FROM embeddings e JOIN ass ON e.vec_id = ass.vec_id
      |         JOIN probe ON ass.cell = probe.cell),
      |cx AS (SELECT vec_id, cell, embedding,
      |         unnest(generate_series(1, len(embedding))) AS i FROM cand),
      |fd AS (SELECT cx.vec_id, cx.cell,
      |         sum(cx.embedding[cx.i]::DOUBLE * q.qe[cx.i]::DOUBLE) AS dot,
      |         sum(cx.embedding[cx.i]::DOUBLE * cx.embedding[cx.i]::DOUBLE) AS na
      |       FROM cx CROSS JOIN q GROUP BY 1, 2)
      |SELECT vec_id, cell, round(dot / (sqrt(na) * sqrt(qn.ns)), 6) AS cos_sim
      |FROM fd CROSS JOIN qn ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  /* ---------------- vs_ann_recall ---------------- */

  /** Index-quality SELF-TELEMETRY as a first-class query: recall@10
    * of the label-cell IVF (vs_ann_ivf's exact binding) against the
    * brute-force scan over the same candidate set — the number a
    * production retrieval pipeline alerts on when centroids go
    * stale (AnnRecallSpec measures the full nprobe curves; this row
    * pins ONE operating point cross-engine, measured not guessed).
    * Both legs are the existing oracle devices; the intersection is
    * a 10-row semi join.
    */
  private def annRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    val centroids = VectorSearch.centroidArrays(emb, "label", "embedding")
    val approx = VectorSearch.annIvf(emb, q, centroids,
      "vec_id", "embedding", "qe", "label", nprobe = 3, k = 10)
      .select(col("vec_id"))
    val exact = VectorSearch.denseTopK(emb, q,
      "vec_id", "embedding", "qe", 10)
      .select(col("vec_id"))
    approx.join(exact, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).cast("long").as("hits"))
      .select(lit(10L).as("k"), col("hits"),
        round(col("hits").cast("double") / 10 + lit(1e-9), 6).as("recall"))
  }

  /** Oracle: the vs_ann_ivf CTE chain for the approximate leg, the
    * vs_dense_topk chain (self included) for the exact leg, then
    * |∩| / 10.
    */
  private val annRecallSql = {
    val tail = "SELECT vec_id, cell, round(dot / (sqrt(na) * sqrt(qn.ns)), " +
      "6) AS cos_sim\nFROM fd CROSS JOIN qn ORDER BY cos_sim DESC, " +
      "vec_id LIMIT 10"
    require(annIvfSql.endsWith(tail),
      "vs_ann_recall: annIvfSql tail changed — update the splice")
    val ivfCtes = annIvfSql.stripPrefix("WITH ").stripSuffix(tail).trim
    s"""WITH $ivfCtes,
       |ivf AS (
       |  SELECT vec_id, round(dot / (sqrt(na) * sqrt(qn.ns)), 6) AS cos_sim
       |  FROM fd CROSS JOIN qn ORDER BY cos_sim DESC, vec_id LIMIT 10),
       |xx AS (SELECT e.vec_id, q.qe AS qe, e.embedding AS ce,
       |    unnest(generate_series(1, len(e.embedding))) AS i
       |  FROM embeddings e CROSS JOIN q),
       |xd AS (SELECT vec_id,
       |    sum(ce[i]::DOUBLE * qe[i]::DOUBLE) AS dot,
       |    sum(ce[i]::DOUBLE * ce[i]::DOUBLE) AS na
       |  FROM xx GROUP BY vec_id),
       |exact AS (SELECT vec_id,
       |    round(xd.dot / (sqrt(xd.na) * sqrt(qn.ns)), 6) AS cos_sim
       |  FROM xd CROSS JOIN qn ORDER BY cos_sim DESC, vec_id LIMIT 10),
       |hits AS (SELECT count(*)::BIGINT AS hits
       |  FROM ivf JOIN exact ON ivf.vec_id = exact.vec_id)
       |SELECT 10::BIGINT AS k, hits,
       |  round(hits::DOUBLE / 10 + 0.000000001, 6) AS recall
       |FROM hits""".stripMargin
  }

  /* ---------------- vs_ann_ivf_batch ---------------- */

  /** Batch IVF: top-5 per query for 10 queries at once, scoring only
    * probed cells — the bulk-retrieval twin of vs_knn_join (which
    * scores the full cross product). Oracle = per-query restricted
    * exact comparison, like vs_ann_ivf.
    */
  private def annIvfBatch(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cs = emb.where(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("label"))
    val qs = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val centroids = VectorSearch.centroidArrays(cs, "label", "ce")
    VectorSearch.annIvfBatch(cs, qs, centroids,
      "cid", "ce", "qid", "qe", "label", nprobe = 3, k = 5)
      .orderBy(col("qid"), col("rnk"))
  }

  private val annIvfBatchSql =
    """WITH cs AS (SELECT vec_id AS cid, embedding AS ce, label
      |       FROM embeddings WHERE vec_id >= 10),
      |qs AS (SELECT vec_id AS qid, embedding AS qe
      |       FROM embeddings WHERE vec_id < 10),
      |le AS (SELECT label, ce, unnest(generate_series(1, len(ce))) AS i FROM cs),
      |c AS (SELECT label, i, avg(ce[i]::DOUBLE) AS v FROM le GROUP BY label, i),
      |cn AS (SELECT label, sum(v * v) AS ns FROM c GROUP BY label),
      |ev AS (SELECT cid, ce, unnest(generate_series(1, len(ce))) AS i FROM cs),
      |en AS (SELECT cid, sum(ce[i]::DOUBLE * ce[i]::DOUBLE) AS ns
      |       FROM ev GROUP BY cid),
      |ass0 AS (SELECT ev.cid, c.label, sum(ev.ce[ev.i]::DOUBLE * c.v) AS dot
      |         FROM ev JOIN c ON ev.i = c.i GROUP BY 1, 2),
      |ass1 AS (SELECT a.cid, a.label,
      |           round(a.dot / (sqrt(en.ns) * sqrt(cn.ns)), 6) AS s
      |         FROM ass0 a JOIN en ON a.cid = en.cid JOIN cn ON a.label = cn.label),
      |ass AS (SELECT cid, label AS cell FROM (
      |          SELECT cid, label,
      |            row_number() OVER (PARTITION BY cid ORDER BY s DESC, label) AS rn
      |          FROM ass1) WHERE rn = 1),
      |qv AS (SELECT qid, qe, unnest(generate_series(1, len(qe))) AS i FROM qs),
      |qn AS (SELECT qid, sum(qe[i]::DOUBLE * qe[i]::DOUBLE) AS ns
      |       FROM qv GROUP BY qid),
      |qc AS (SELECT qv.qid, c.label, sum(qv.qe[qv.i]::DOUBLE * c.v) AS dot
      |       FROM qv JOIN c ON qv.i = c.i GROUP BY 1, 2),
      |probe AS (SELECT qid, label AS cell FROM (
      |            SELECT qc.qid, qc.label,
      |              row_number() OVER (PARTITION BY qc.qid
      |                ORDER BY round(qc.dot / (sqrt(qn.ns) * sqrt(cn.ns)), 6) DESC,
      |                         qc.label) AS rn
      |            FROM qc JOIN qn ON qc.qid = qn.qid
      |            JOIN cn ON qc.label = cn.label) WHERE rn <= 3),
      |cand AS (SELECT p.qid, cs.cid, cs.ce
      |         FROM cs JOIN ass ON cs.cid = ass.cid
      |         JOIN probe p ON ass.cell = p.cell),
      |cx AS (SELECT qid, cid, ce, unnest(generate_series(1, len(ce))) AS i
      |       FROM cand),
      |fd AS (SELECT cx.qid, cx.cid,
      |         sum(cx.ce[cx.i]::DOUBLE * qs.qe[cx.i]::DOUBLE) AS dot,
      |         sum(cx.ce[cx.i]::DOUBLE * cx.ce[cx.i]::DOUBLE) AS na
      |       FROM cx JOIN qs ON cx.qid = qs.qid GROUP BY 1, 2),
      |sc AS (SELECT fd.qid, fd.cid,
      |         round(fd.dot / (sqrt(fd.na) * sqrt(qn.ns)), 6) AS cos_sim
      |       FROM fd JOIN qn ON fd.qid = qn.qid),
      |rk AS (SELECT qid, cid, cos_sim,
      |         row_number() OVER (PARTITION BY qid
      |           ORDER BY cos_sim DESC, cid)::BIGINT AS rnk
      |       FROM sc)
      |SELECT qid, cid, cos_sim, rnk FROM rk WHERE rnk <= 5
      |ORDER BY qid, rnk""".stripMargin

  /* ---------------- vs_ann_ivf_srp ---------------- */

  /** IVF whose coarse codebook is DATA-DERIVED: cells are SRP sign
    * codes (VectorFns.signCode over the leading 4 dims → 16 cells),
    * centroids are per-cell means. No curated label column anywhere —
    * this is the honest 100 TB binding (the label-cell variant above
    * stays as the reference-shaped oracle twin).
    */
  private def annIvfSrp(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFns
    val emb = Tables.embeddings(s, d)
      .withColumn("cell", VectorFns.signCode(col("embedding"), 4).cast("int"))
    val centroids = VectorSearch.centroidArrays(emb, "cell", "embedding")
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    VectorSearch.annIvf(emb.select(col("vec_id"), col("embedding")), q,
      centroids, "vec_id", "embedding", "qe", "cell", nprobe = 3, k = 10)
  }

  private val srpCellSql = (1 to 4)
    .map(i => s"(CASE WHEN embedding[$i] >= 0 THEN ${1L << (i - 1)} ELSE 0 END)")
    .mkString(" + ")

  private val annIvfSrpSql =
    s"""WITH sc0 AS (SELECT vec_id, embedding, ($srpCellSql)::INT AS cell
       |       FROM embeddings),
       |le AS (SELECT cell, embedding,
       |         unnest(generate_series(1, len(embedding))) AS i FROM sc0),
       |c AS (SELECT cell, i, avg(embedding[i]::DOUBLE) AS v FROM le GROUP BY cell, i),
       |cn AS (SELECT cell, sum(v * v) AS ns FROM c GROUP BY cell),
       |ev AS (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) AS i
       |       FROM embeddings),
       |en AS (SELECT vec_id, sum(embedding[i]::DOUBLE * embedding[i]::DOUBLE) AS ns
       |       FROM ev GROUP BY vec_id),
       |ass0 AS (SELECT ev.vec_id, c.cell, sum(ev.embedding[ev.i]::DOUBLE * c.v) AS dot
       |         FROM ev JOIN c ON ev.i = c.i GROUP BY 1, 2),
       |ass1 AS (SELECT a.vec_id, a.cell,
       |           round(a.dot / (sqrt(en.ns) * sqrt(cn.ns)), 6) AS s
       |         FROM ass0 a JOIN en ON a.vec_id = en.vec_id JOIN cn ON a.cell = cn.cell),
       |ass AS (SELECT vec_id, cell FROM (
       |          SELECT vec_id, cell,
       |            row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
       |          FROM ass1) WHERE rn = 1),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qn AS (SELECT sum(x::DOUBLE * x::DOUBLE) AS ns FROM (SELECT unnest(qe) AS x FROM q)),
       |qc AS (SELECT c.cell, sum(q.qe[c.i]::DOUBLE * c.v) AS dot
       |       FROM c CROSS JOIN q GROUP BY c.cell),
       |probe AS (SELECT cell FROM (
       |            SELECT qc.cell, round(qc.dot / (sqrt(qn.ns) * sqrt(cn.ns)), 6) AS s
       |            FROM qc CROSS JOIN qn JOIN cn ON qc.cell = cn.cell)
       |          ORDER BY s DESC, cell LIMIT 3),
       |cand AS (SELECT e.vec_id, ass.cell, e.embedding
       |         FROM embeddings e JOIN ass ON e.vec_id = ass.vec_id
       |         JOIN probe ON ass.cell = probe.cell),
       |cx AS (SELECT vec_id, cell, embedding,
       |         unnest(generate_series(1, len(embedding))) AS i FROM cand),
       |fd AS (SELECT cx.vec_id, cx.cell,
       |         sum(cx.embedding[cx.i]::DOUBLE * q.qe[cx.i]::DOUBLE) AS dot,
       |         sum(cx.embedding[cx.i]::DOUBLE * cx.embedding[cx.i]::DOUBLE) AS na
       |       FROM cx CROSS JOIN q GROUP BY 1, 2)
       |SELECT vec_id, cell, round(dot / (sqrt(na) * sqrt(qn.ns)), 6) AS cos_sim
       |FROM fd CROSS JOIN qn ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  /* ---------------- vs_ivf_sq8 ---------------- */

  /** IVF over SQ8 codes (Pq.ivfSq8TopK — the FAISS `IVF,SQ8` index):
    * SRP sign-code cells seed data-derived centroids (the
    * vs_ann_ivf_srp device, all-deterministic), the probe prunes to
    * 3 cells, and survivors score against 4x-compressed byte codes
    * via midpoint reconstruction. Every step is IEEE-exact
    * arithmetic, so unlike IVF-PQ this composition is ORACLE-CHECKED
    * end to end.
    */
  private def ivfSq8(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFns
    val emb = Tables.embeddings(s, d)
      .withColumn("cell", VectorFns.signCode(col("embedding"), 4).cast("int"))
    val centroids = VectorSearch.centroidArrays(emb, "cell", "embedding")
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    Pq.ivfSq8TopK(emb.select(col("vec_id"), col("embedding")), q,
      centroids, "vec_id", "embedding", "qe", "cell", nprobe = 3, k = 10)
  }

  private val ivfSq8Sql =
    s"""WITH sc0 AS (SELECT vec_id, embedding, ($srpCellSql)::INT AS cell
       |       FROM embeddings),
       |le AS (SELECT cell, embedding,
       |         unnest(generate_series(1, len(embedding))) AS i FROM sc0),
       |c AS (SELECT cell, i, avg(embedding[i]::DOUBLE) AS v FROM le GROUP BY cell, i),
       |cn AS (SELECT cell, sum(v * v) AS ns FROM c GROUP BY cell),
       |ev AS (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) AS i
       |       FROM embeddings),
       |en AS (SELECT vec_id, sum(embedding[i]::DOUBLE * embedding[i]::DOUBLE) AS ns
       |       FROM ev GROUP BY vec_id),
       |ass0 AS (SELECT ev.vec_id, c.cell, sum(ev.embedding[ev.i]::DOUBLE * c.v) AS dot
       |         FROM ev JOIN c ON ev.i = c.i GROUP BY 1, 2),
       |ass1 AS (SELECT a.vec_id, a.cell,
       |           round(a.dot / (sqrt(en.ns) * sqrt(cn.ns)), 6) AS s
       |         FROM ass0 a JOIN en ON a.vec_id = en.vec_id JOIN cn ON a.cell = cn.cell),
       |ass AS (SELECT vec_id, cell FROM (
       |          SELECT vec_id, cell,
       |            row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
       |          FROM ass1) WHERE rn = 1),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qn AS (SELECT sum(x::DOUBLE * x::DOUBLE) AS ns FROM (SELECT unnest(qe) AS x FROM q)),
       |qc AS (SELECT c.cell, sum(q.qe[c.i]::DOUBLE * c.v) AS dot
       |       FROM c CROSS JOIN q GROUP BY c.cell),
       |probe AS (SELECT cell FROM (
       |            SELECT qc.cell, round(qc.dot / (sqrt(qn.ns) * sqrt(cn.ns)), 6) AS s
       |            FROM qc CROSS JOIN qn JOIN cn ON qc.cell = cn.cell)
       |          ORDER BY s DESC, cell LIMIT 3),
       |sv AS (SELECT i, embedding[i]::DOUBLE AS v FROM ev),
       |st AS (SELECT i, min(v) AS mn, max(v) AS mx FROM sv GROUP BY i),
       |cand AS (SELECT e.vec_id, ass.cell, e.embedding
       |         FROM embeddings e JOIN ass ON e.vec_id = ass.vec_id
       |         JOIN probe ON ass.cell = probe.cell),
       |cx AS (SELECT vec_id, cell, embedding,
       |         unnest(generate_series(1, len(embedding))) AS i FROM cand),
       |cv AS (SELECT vec_id, cell, i, embedding[i]::DOUBLE AS v FROM cx),
       |cd AS (SELECT cv.vec_id, cv.cell, cv.i,
       |         CASE WHEN st.mx > st.mn
       |           THEN floor(((cv.v - st.mn) / (st.mx - st.mn)) * 255.0)::BIGINT
       |           ELSE 0 END AS code
       |       FROM cv JOIN st USING (i)),
       |rc AS (SELECT cd.vec_id, cd.cell, cd.i,
       |         st.mn + (cd.code::DOUBLE + 0.5) * (st.mx - st.mn) / 256.0 AS r
       |       FROM cd JOIN st USING (i)),
       |fd AS (SELECT rc.vec_id, rc.cell,
       |         sum(rc.r * q.qe[rc.i]::DOUBLE) AS dot, sum(rc.r * rc.r) AS na
       |       FROM rc CROSS JOIN q GROUP BY 1, 2)
       |SELECT vec_id, cell, round(dot / (sqrt(na) * sqrt(qn.ns)), 6) AS cos_sim
       |FROM fd CROSS JOIN qn ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  /* ---------------- vs_ivf_append ---------------- */

  /** Incremental index APPEND (r12) — the reference's add_chunks
    * regime for the ANN surface (backend/app/core/vector_store.py:136
    * adds new embeddings to the existing collection without
    * rebuilding it): the coarse codebook is FROZEN on the base
    * snapshot (SRP cells + per-cell means over vec_id >= 10 only) and
    * tonight's arrivals (vec_id < 10) are assigned to those stale
    * cells by the same zero-exchange fold — no retraining, no base
    * re-index. The query is one of the NEW vectors (the
    * just-ingested-then-queried path): it must surface itself top-1
    * through the frozen codebook. Centroid staleness costs recall as
    * the corpus drifts — the production answer is periodic re-train,
    * which is vs_ann_ivf_srp's path; this row pins the between-trains
    * regime.
    */
  private def ivfAppend(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFns
    val emb = Tables.embeddings(s, d)
    val base = emb.where(col("vec_id") >= 10)
      .withColumn("cell", VectorFns.signCode(col("embedding"), 4).cast("int"))
    val centroids = VectorSearch.centroidArrays(base, "cell", "embedding")
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    VectorSearch.annIvf(emb.select(col("vec_id"), col("embedding")), q,
      centroids, "vec_id", "embedding", "qe", "cell", nprobe = 3, k = 10)
  }

  /** annIvfSrp's oracle with the centroid CTEs restricted to the base
    * snapshot; assignment/probe/scoring run over the combined corpus
    * against those frozen centroids.
    */
  private val ivfAppendSql =
    s"""WITH sc0 AS (SELECT vec_id, embedding, ($srpCellSql)::INT AS cell
       |       FROM embeddings WHERE vec_id >= 10),
       |le AS (SELECT cell, embedding,
       |         unnest(generate_series(1, len(embedding))) AS i FROM sc0),
       |c AS (SELECT cell, i, avg(embedding[i]::DOUBLE) AS v FROM le GROUP BY cell, i),
       |cn AS (SELECT cell, sum(v * v) AS ns FROM c GROUP BY cell),
       |ev AS (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) AS i
       |       FROM embeddings),
       |en AS (SELECT vec_id, sum(embedding[i]::DOUBLE * embedding[i]::DOUBLE) AS ns
       |       FROM ev GROUP BY vec_id),
       |ass0 AS (SELECT ev.vec_id, c.cell, sum(ev.embedding[ev.i]::DOUBLE * c.v) AS dot
       |         FROM ev JOIN c ON ev.i = c.i GROUP BY 1, 2),
       |ass1 AS (SELECT a.vec_id, a.cell,
       |           round(a.dot / (sqrt(en.ns) * sqrt(cn.ns)), 6) AS s
       |         FROM ass0 a JOIN en ON a.vec_id = en.vec_id JOIN cn ON a.cell = cn.cell),
       |ass AS (SELECT vec_id, cell FROM (
       |          SELECT vec_id, cell,
       |            row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
       |          FROM ass1) WHERE rn = 1),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qn AS (SELECT sum(x::DOUBLE * x::DOUBLE) AS ns FROM (SELECT unnest(qe) AS x FROM q)),
       |qc AS (SELECT c.cell, sum(q.qe[c.i]::DOUBLE * c.v) AS dot
       |       FROM c CROSS JOIN q GROUP BY c.cell),
       |probe AS (SELECT cell FROM (
       |            SELECT qc.cell, round(qc.dot / (sqrt(qn.ns) * sqrt(cn.ns)), 6) AS s
       |            FROM qc CROSS JOIN qn JOIN cn ON qc.cell = cn.cell)
       |          ORDER BY s DESC, cell LIMIT 3),
       |cand AS (SELECT e.vec_id, ass.cell, e.embedding
       |         FROM embeddings e JOIN ass ON e.vec_id = ass.vec_id
       |         JOIN probe ON ass.cell = probe.cell),
       |cx AS (SELECT vec_id, cell, embedding,
       |         unnest(generate_series(1, len(embedding))) AS i FROM cand),
       |fd AS (SELECT cx.vec_id, cx.cell,
       |         sum(cx.embedding[cx.i]::DOUBLE * q.qe[cx.i]::DOUBLE) AS dot,
       |         sum(cx.embedding[cx.i]::DOUBLE * cx.embedding[cx.i]::DOUBLE) AS na
       |       FROM cx CROSS JOIN q GROUP BY 1, 2)
       |SELECT vec_id, cell, round(dot / (sqrt(na) * sqrt(qn.ns)), 6) AS cos_sim
       |FROM fd CROSS JOIN qn ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  /* ---------------- vs_pq_adc ---------------- */

  /** PQ + asymmetric-distance search, ORACLE-CHECKED end to end: the
    * full Pq.train → encode → adcTopK chain at iters = 1 — every
    * stage is deterministic IEEE arithmetic (id-ordered seeds, one
    * unrolled L2 Lloyd round, argmax assignment on 6dp-rounded
    * scores, broadcast lookup-table fold), so DuckDB replays it as a
    * CTE chain parameterized by a `subs` relation (no per-subspace
    * SQL duplication). iters = 1 is the oracle device, not a
    * capability limit — PqSpec measures multi-iteration recall; this
    * row pins the ARITHMETIC of the whole compressed-search path
    * cross-engine, the vs_ivf_sq8 precedent applied to codebook PQ.
    */
  private val PqDim = 64
  private val PqM = 4
  private val PqK = 8

  /** The stored vectors' dimension — what a real engine reads from
    * index metadata. One first-row size() probe (a LIMIT-1 job, ms)
    * keeps the PQ bindings dimension-agnostic: the testdata runs at
    * the oracle-pinned d=64, the ScaleUp d=768 probe dir at the
    * reference embedder's width, with m and iters unchanged.
    */
  private def vecDim(emb: DataFrame): Int =
    emb.select(size(col("embedding"))).head.getInt(0)

  private def pqAdc(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
    val dim = vecDim(emb)
    val books = Pq.train(emb, "vec_id", "embedding",
      dim, PqM, PqK, iters = 1)
    val codes = Pq.encode(emb, books, "vec_id", "embedding", dim, PqM)
    val q = Tables.embeddings(s, d).where(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    Pq.adcTopK(codes, books, q, "vec_id", "qe", dim, PqM, 10)
  }

  private def pqAdcSqlAt(dim: Int): String = {
    val dsub = dim / PqM
    s"""WITH subs AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS sub),
       |di AS (SELECT unnest(generate_series(1, $dsub)) AS i),
       |sv AS (SELECT e.vec_id, s.sub, d.i,
       |    e.embedding[s.sub * $dsub + d.i]::DOUBLE AS v
       |  FROM embeddings e CROSS JOIN subs s CROSS JOIN di d),
       |sd AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
       |  FROM embeddings ORDER BY vec_id LIMIT $PqK),
       |c0 AS (SELECT sd.cell, sv.sub, sv.i, sv.v
       |  FROM sd JOIN sv ON sv.vec_id = sd.vec_id),
       |c0n AS (SELECT sub, cell, sum(v * v) AS nsq FROM c0 GROUP BY 1, 2),
       |a0 AS (SELECT sv.vec_id, sv.sub, c0.cell, sum(sv.v * c0.v) AS dot
       |  FROM sv JOIN c0 ON sv.sub = c0.sub AND sv.i = c0.i
       |  GROUP BY 1, 2, 3),
       |a1 AS (SELECT a0.vec_id, a0.sub, a0.cell,
       |    round(a0.dot - c0n.nsq / 2, 6) AS s
       |  FROM a0 JOIN c0n ON a0.sub = c0n.sub AND a0.cell = c0n.cell),
       |asg AS (SELECT vec_id, sub, cell FROM (
       |    SELECT vec_id, sub, cell,
       |      row_number() OVER (PARTITION BY vec_id, sub
       |        ORDER BY s DESC, cell) AS rn
       |    FROM a1) WHERE rn = 1),
       |bk AS (SELECT asg.sub, asg.cell, sv.i, avg(sv.v) AS v
       |  FROM asg JOIN sv ON sv.vec_id = asg.vec_id AND sv.sub = asg.sub
       |  GROUP BY 1, 2, 3),
       |bkn AS (SELECT sub, cell, sum(v * v) AS nsq FROM bk GROUP BY 1, 2),
       |e0 AS (SELECT sv.vec_id, sv.sub, bk.cell, sum(sv.v * bk.v) AS dot
       |  FROM sv JOIN bk ON sv.sub = bk.sub AND sv.i = bk.i
       |  GROUP BY 1, 2, 3),
       |e1 AS (SELECT e0.vec_id, e0.sub, e0.cell,
       |    round(e0.dot - bkn.nsq / 2, 6) AS s
       |  FROM e0 JOIN bkn ON e0.sub = bkn.sub AND e0.cell = bkn.cell),
       |codes AS (SELECT vec_id, sub, cell AS code FROM (
       |    SELECT vec_id, sub, cell,
       |      row_number() OVER (PARTITION BY vec_id, sub
       |        ORDER BY s DESC, cell) AS rn
       |    FROM e1) WHERE rn = 1),
       |q AS (SELECT s.sub, d.i,
       |    e.embedding[s.sub * $dsub + d.i]::DOUBLE AS v
       |  FROM embeddings e CROSS JOIN subs s CROSS JOIN di d
       |  WHERE e.vec_id = 0),
       |qn AS (SELECT sqrt(sum(x::DOUBLE * x::DOUBLE)) AS qnrm
       |  FROM (SELECT unnest(embedding) AS x FROM embeddings
       |        WHERE vec_id = 0)),
       |tb AS (SELECT bk.sub, bk.cell, sum(bk.v * q.v) AS dot
       |  FROM bk JOIN q ON bk.sub = q.sub AND bk.i = q.i GROUP BY 1, 2),
       |sc AS (SELECT codes.vec_id,
       |    sum(tb.dot) AS dsum, sum(bkn.nsq) AS nsum
       |  FROM codes
       |  JOIN tb ON codes.sub = tb.sub AND codes.code = tb.cell
       |  JOIN bkn ON codes.sub = bkn.sub AND codes.code = bkn.cell
       |  GROUP BY 1)
       |SELECT vec_id, round(dsum / (qn.qnrm * sqrt(sc.nsum)), 6) AS adc_sim
       |FROM sc CROSS JOIN qn
       |ORDER BY adc_sim DESC, vec_id LIMIT 10""".stripMargin
  }

  private val pqAdcSql = pqAdcSqlAt(PqDim)

  /* ---------------- vs_ivf_pq ---------------- */

  /** The FULL FAISS `IVF,PQ,RFlat` stack ORACLE-CHECKED end to end:
    * coarse spherical k-means (4 cells, one Lloyd round — the
    * dedup_semantic device), per-cell residuals, per-subspace L2 PQ
    * codebooks on the residuals (the vs_pq_adc device, m=4 × k=8),
    * probe the 2 nearest coarse cells, three-term ADC shortlist of
    * candK=20 codes (cos(q, c+recon) via q·book / ‖book‖² /
    * c_s·book lookup terms), then the RFlat exact re-rank of the
    * shortlist to top-10. iters = 1 everywhere is the oracle
    * device, not a capability limit — PqSpec measures converged
    * recall. This graduates the last spec-only compressed-search
    * path to a correctness row: every ranking stage orders on
    * 6dp-rounded scores with pinned ties.
    */
  private val IpCells = 4
  private val IpM = 4
  private val IpK = 8
  private val IpProbe = 2
  private val IpCand = 20

  private def ivfPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
    val dim = vecDim(emb)
    val (coarse, books, codes) = Pq.ivfPqBuild(emb, "vec_id", "embedding",
      dim, IpCells, IpM, IpK, iters = 1)
    val q = Tables.embeddings(s, d).where(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    Pq.ivfPqRefine(codes, coarse, books, emb, q, "vec_id", "embedding",
      "qe", dim, IpM, IpProbe, IpCand, 10)
  }

  private def ivfPqSqlAt(dim: Int): String = {
    val dsub = dim / IpM
    s"""WITH ${SqlSnippets.lloydSphericalCtes(IpCells, "cc")},
       |rv AS (SELECT sv.vec_id, sv.i, sv.v - cc.v AS v
       |  FROM sv JOIN asg ON sv.vec_id = asg.vec_id
       |  JOIN cc ON asg.cell = cc.cell AND cc.i = sv.i),
       |rsv AS (SELECT vec_id, ((i - 1) // $dsub)::INT AS sub,
       |    ((i - 1) % $dsub) + 1 AS j, v FROM rv),
       |pd AS (SELECT vec_id,
       |    (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cell
       |  FROM embeddings ORDER BY vec_id LIMIT $IpK),
       |p0 AS (SELECT pd.cell, rsv.sub, rsv.j, rsv.v
       |  FROM pd JOIN rsv ON rsv.vec_id = pd.vec_id),
       |p0n AS (SELECT sub, cell, sum(v * v) AS nsq FROM p0 GROUP BY 1, 2),
       |q0 AS (SELECT rsv.vec_id, rsv.sub, p0.cell, sum(rsv.v * p0.v) AS dot
       |  FROM rsv JOIN p0 ON rsv.sub = p0.sub AND rsv.j = p0.j
       |  GROUP BY 1, 2, 3),
       |q1 AS (SELECT q0.vec_id, q0.sub, q0.cell,
       |    round(q0.dot - p0n.nsq / 2, 6) AS s
       |  FROM q0 JOIN p0n ON q0.sub = p0n.sub AND q0.cell = p0n.cell),
       |pasg AS (SELECT vec_id, sub, cell FROM (
       |    SELECT vec_id, sub, cell,
       |      row_number() OVER (PARTITION BY vec_id, sub
       |        ORDER BY s DESC, cell) AS rn FROM q1) WHERE rn = 1),
       |bk AS (SELECT pasg.sub, pasg.cell, rsv.j, avg(rsv.v) AS v
       |  FROM pasg JOIN rsv ON rsv.vec_id = pasg.vec_id
       |    AND rsv.sub = pasg.sub GROUP BY 1, 2, 3),
       |bkn AS (SELECT sub, cell, sum(v * v) AS nsq FROM bk GROUP BY 1, 2),
       |e0 AS (SELECT rsv.vec_id, rsv.sub, bk.cell, sum(rsv.v * bk.v) AS dot
       |  FROM rsv JOIN bk ON rsv.sub = bk.sub AND rsv.j = bk.j
       |  GROUP BY 1, 2, 3),
       |e1 AS (SELECT e0.vec_id, e0.sub, e0.cell,
       |    round(e0.dot - bkn.nsq / 2, 6) AS s
       |  FROM e0 JOIN bkn ON e0.sub = bkn.sub AND e0.cell = bkn.cell),
       |pcode AS (SELECT vec_id, sub, cell AS code FROM (
       |    SELECT vec_id, sub, cell,
       |      row_number() OVER (PARTITION BY vec_id, sub
       |        ORDER BY s DESC, cell) AS rn FROM e1) WHERE rn = 1),
       |qsv AS (SELECT i, v FROM sv WHERE vec_id = 0),
       |qn AS (SELECT sqrt(sum(v * v)) AS qnrm FROM qsv),
       |qrs AS (SELECT ((i - 1) // $dsub)::INT AS sub,
       |    ((i - 1) % $dsub) + 1 AS j, v FROM qsv),
       |pq0 AS (SELECT cc.cell, sum(cc.v * qsv.v) AS dot
       |  FROM cc JOIN qsv ON cc.i = qsv.i GROUP BY cc.cell),
       |probe AS (SELECT cell, qc, cnsq FROM (
       |    SELECT pq0.cell, pq0.dot AS qc, ccn.ns AS cnsq,
       |      round(pq0.dot / sqrt(ccn.ns), 6) AS prank
       |    FROM pq0 JOIN ccn ON pq0.cell = ccn.cell)
       |  ORDER BY prank DESC, cell LIMIT $IpProbe),
       |tdq AS (SELECT bk.sub, bk.cell AS code, sum(bk.v * qrs.v) AS dotq
       |  FROM bk JOIN qrs ON bk.sub = qrs.sub AND bk.j = qrs.j
       |  GROUP BY 1, 2),
       |csl AS (SELECT probe.cell AS pcell, ((cc.i - 1) // $dsub)::INT AS sub,
       |    ((cc.i - 1) % $dsub) + 1 AS j, cc.v
       |  FROM cc JOIN probe ON cc.cell = probe.cell),
       |tcr AS (SELECT csl.pcell, bk.sub, bk.cell AS code,
       |    sum(bk.v * csl.v) AS crossc
       |  FROM bk JOIN csl ON bk.sub = csl.sub AND bk.j = csl.j
       |  GROUP BY 1, 2, 3),
       |cand AS (SELECT pcode.vec_id, asg.cell AS pcell, pcode.sub, pcode.code
       |  FROM pcode JOIN asg ON pcode.vec_id = asg.vec_id
       |  JOIN probe ON asg.cell = probe.cell),
       |adc AS (SELECT cand.vec_id, cand.pcell, sum(tdq.dotq) AS dsum,
       |    sum(bkn.nsq) AS nsum, sum(tcr.crossc) AS csum
       |  FROM cand JOIN tdq ON cand.sub = tdq.sub AND cand.code = tdq.code
       |  JOIN bkn ON cand.sub = bkn.sub AND cand.code = bkn.cell
       |  JOIN tcr ON tcr.pcell = cand.pcell AND tcr.sub = cand.sub
       |    AND tcr.code = cand.code
       |  GROUP BY 1, 2),
       |sl AS (SELECT vec_id FROM (
       |    SELECT adc.vec_id, round((probe.qc + adc.dsum) /
       |        (qn.qnrm * sqrt(probe.cnsq + 2 * adc.csum + adc.nsum)), 6)
       |        AS s
       |    FROM adc JOIN probe ON adc.pcell = probe.cell CROSS JOIN qn)
       |  ORDER BY s DESC, vec_id LIMIT $IpCand),
       |rf AS (SELECT sv.vec_id, sum(sv.v * qsv.v) AS dot
       |  FROM sv JOIN sl ON sv.vec_id = sl.vec_id JOIN qsv ON sv.i = qsv.i
       |  GROUP BY sv.vec_id)
       |SELECT rf.vec_id, round(rf.dot / (sqrt(en.ns) * qn.qnrm), 6)
       |    AS refined_sim
       |FROM rf JOIN en ON rf.vec_id = en.vec_id CROSS JOIN qn
       |ORDER BY refined_sim DESC, rf.vec_id LIMIT 10""".stripMargin
  }

  private val ivfPqSql = ivfPqSqlAt(PqDim)

  /* ---------------- bm25_search ---------------- */

  private def bm25Search(s: SparkSession, d: String): DataFrame =
    Bm25.topK(Tables.documents(s, d), "doc_id", "text", QueryTerms, 20)

  private val bm25Sql =
    s"""WITH ${SqlSnippets.bm25ScoreCtes(termList)}
       |SELECT doc_id, round(s, 6) AS bm25 FROM sc
       |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  /* ---------------- bm25_synonyms ---------------- */

  /** Vocabulary-expanded lexical search: primary query terms at full
    * weight plus synonym/abbreviation expansions at 0.5 ("quick" is
    * deliberately absent from the corpus — the missing-expansion path
    * must contribute nothing, like an unknown abbreviation).
    */
  val SynTerms: Seq[String] = Seq("merge", "scan", "quick")
  private val SynWeight = 0.5

  private def bm25Synonyms(s: SparkSession, d: String): DataFrame =
    Bm25.topKExpanded(Tables.documents(s, d), "doc_id", "text",
      QueryTerms, SynTerms, SynWeight, 20)

  private val bm25SynonymsSql = {
    // mirror topKExpanded's dedupe EXACTLY: an expansion that repeats
    // a primary term keeps full weight on both engines
    val effSyn = SynTerms.distinct.filterNot(QueryTerms.contains)
    val allTerms = (QueryTerms.distinct ++ effSyn).map(TextFns.sqlLit).mkString(", ")
    val wCase = effSyn.map(t => s"WHEN ${TextFns.sqlLit(t)} THEN $SynWeight")
      .mkString("* (CASE tf.term ", " ", " ELSE 1.0 END)")
    s"""WITH ${SqlSnippets.bm25ScoreCtes(allTerms, wCase)}
       |SELECT doc_id, round(s, 6) AS bm25 FROM sc
       |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
  }

  /* ---------------- rank_ndcg ---------------- */

  /** NDCG@20 curve for the BM25 run: relevance grade = how many of
    * the query terms a doc's token set contains (0..5, deterministic
    * so the oracle replays it). The full metric curve ships as one
    * row per rank.
    */
  private def rankNdcg(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val run = Fusion.ranked(
      Bm25.topK(docs, "doc_id", "text", QueryTerms, 20), "doc_id", "bm25")
    val toks = TextFns.bm25Tokens(col("text"))
    val grade = QueryTerms.map(t =>
      when(array_contains(toks, TextFns.lcRoot(t)), 1).otherwise(0))
      .reduce(_ + _)
    RankEval.ndcgAtK(run, docs.select(col("doc_id"), grade.as("rel")),
      "doc_id", "rank", "rel", 20)
      .orderBy(col("rank"))
  }

  private val rankNdcgSql = {
    val gradeSum = QueryTerms.map(t =>
      s"(CASE WHEN list_contains(tk, ${TextFns.sqlLit(TextFns.lcRoot(t))}) " +
        "THEN 1 ELSE 0 END)").mkString(" + ")
    val cum = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    s"""WITH ${SqlSnippets.bm25ScoreCtes(termList)},
       |run AS (SELECT doc_id, rank FROM (
       |    SELECT doc_id, row_number() OVER (
       |        ORDER BY round(s, 6) DESC, doc_id)::BIGINT AS rank
       |    FROM sc) WHERE rank <= 20),
       |gr AS (SELECT doc_id, ($gradeSum) AS rel FROM (
       |    SELECT doc_id,
       |      list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
       |        t -> length(t) > 2) AS tk
       |    FROM documents)),
       |realg AS (SELECT run.rank, run.doc_id,
       |    coalesce(gr.rel, 0)::DOUBLE AS grade
       |  FROM run LEFT JOIN gr ON run.doc_id = gr.doc_id),
       |realc AS (SELECT rank, doc_id, grade,
       |    sum((pow(2.0, grade) - 1.0) / (ln(rank + 1.0) / ln(2.0)))
       |      OVER (ORDER BY rank $cum) AS dcg
       |  FROM realg),
       |ideal AS (SELECT row_number() OVER (ORDER BY rel DESC, doc_id)::BIGINT
       |      AS rank, rel::DOUBLE AS ig
       |  FROM gr ORDER BY rel DESC, doc_id LIMIT 20),
       |idealc AS (SELECT rank,
       |    sum((pow(2.0, ig) - 1.0) / (ln(rank + 1.0) / ln(2.0)))
       |      OVER (ORDER BY rank $cum) AS idcg
       |  FROM ideal)
       |SELECT r.rank, r.doc_id, r.grade::BIGINT AS grade,
       |  round(r.dcg + 0.000000001, 6) AS dcg,
       |  round(i.idcg + 0.000000001, 6) AS idcg,
       |  round(r.dcg / nullif(i.idcg, 0.0) + 0.000000001, 6) AS ndcg
       |FROM realc r LEFT JOIN idealc i ON r.rank = i.rank
       |ORDER BY r.rank""".stripMargin
  }

  /* ---------------- hybrid_rrf ---------------- */

  /** Hybrid search = dense + sparse legs fused with RRF. Fusion.rrf
    * collects the two pruned top-50 lists concurrently (the dense leg
    * scores against the query as a literal; the BM25 leg is one
    * native counts pass over the documents, Bm25.score) and fuses them
    * on the driver in O(k): no join, no shuffle, and the answer is a
    * local frame. Its wall time is the slower leg plus the fusion.
    */
  private def hybridRrf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    val dense = Fusion.ranked(
      VectorSearch.denseTopK(emb.where(col("vec_id") =!= 0), q,
        "vec_id", "embedding", "qe", 50)
        .withColumnRenamed("vec_id", "doc_id"),
      "doc_id", "cos_sim")
    val sparse = Fusion.ranked(
      Bm25.topK(Tables.documents(s, d), "doc_id", "text", QueryTerms, 50),
      "doc_id", "bm25")
    Fusion.rrf(dense, sparse, "doc_id", "rank", 20)
  }

  private val hybridRrfSql =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |ex AS (SELECT e.vec_id, e.embedding AS ce, q.qe AS qe,
       |         unnest(generate_series(1, len(e.embedding))) AS i
       |       FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
       |dt AS (SELECT vec_id,
       |         sum(ce[i]::DOUBLE * qe[i]::DOUBLE) AS dot,
       |         sum(ce[i]::DOUBLE * ce[i]::DOUBLE) AS na,
       |         sum(qe[i]::DOUBLE * qe[i]::DOUBLE) AS nb
       |       FROM ex GROUP BY vec_id),
       |dense AS (SELECT doc_id, dense_rank FROM (
       |            SELECT vec_id AS doc_id,
       |              row_number() OVER (
       |                ORDER BY round(dot / (sqrt(na) * sqrt(nb)), 6) DESC, vec_id
       |              )::BIGINT AS dense_rank
       |            FROM dt) WHERE dense_rank <= 50),
       |${SqlSnippets.bm25ScoreCtes(termList)},
       |sparse AS (SELECT doc_id, sparse_rank FROM (
       |             SELECT doc_id,
       |               row_number() OVER (ORDER BY round(s, 6) DESC, doc_id)::BIGINT
       |                 AS sparse_rank
       |             FROM sc) WHERE sparse_rank <= 50),
       |f AS (SELECT coalesce(dense.doc_id, sparse.doc_id) AS doc_id,
       |        dense.dense_rank, sparse.sparse_rank
       |      FROM dense FULL OUTER JOIN sparse ON dense.doc_id = sparse.doc_id)
       |SELECT doc_id, dense_rank, sparse_rank,
       |  round(coalesce(0.6 / (60 + dense_rank), 0)
       |      + coalesce(0.4 / (60 + sparse_rank), 0), 6) AS rrf_score
       |FROM f ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin

  /* ---------------- rerank_rule ---------------- */

  val CentralityKw: Seq[String] = Seq("join", "merge", "hash", "sort")
  val ClinicalKw: Seq[String] = Seq("customer", "order", "query")

  private def rerankRule(s: SparkSession, d: String): DataFrame =
    Fusion.ruleScore(Tables.documents(s, d), "doc_id", "text", "n_chars",
      CentralityKw, ClinicalKw, 50)

  // lower() mirrors Fusion.ruleScore's case-insensitive matching
  private def hitsSql(kws: Seq[String]): String =
    kws.map(w =>
      s"(CASE WHEN strpos(lower(text), ${TextFns.sqlLit(TextFns.lcRoot(w))}) > 0 THEN 1 ELSE 0 END)")
      .mkString(" + ")

  private val rerankRuleSql =
    s"""WITH sc AS (SELECT doc_id,
       |    (${hitsSql(CentralityKw)})::BIGINT AS centrality_hits,
       |    (${hitsSql(ClinicalKw)})::BIGINT AS clinical_hits,
       |    n_chars
       |  FROM documents)
       |SELECT doc_id, centrality_hits, clinical_hits,
       |  round(centrality_hits * 2.0 + clinical_hits * 1.5
       |      + least(n_chars::DOUBLE / 1000.0, 1.0) * 10.0, 6) AS core_score
       |FROM sc ORDER BY core_score DESC, doc_id LIMIT 50""".stripMargin

  /* ---------------- precision_search ---------------- */

  private val TitleLen = 60

  private def precisionSearch(s: SparkSession, d: String): DataFrame =
    Precision.search(Tables.documents(s, d), "doc_id", "text",
      QueryTerms, titleLen = TitleLen, candidates = 50,
      minRelevance = 0.3, k = 10)

  private def strposHits(field: String): String =
    QueryTerms.map(t => s"(CASE WHEN strpos($field, '$t') > 0 THEN 1 ELSE 0 END)")
      .mkString(" + ")

  private val precisionSearchSql =
    s"""WITH ${SqlSnippets.bm25ScoreCtes(termList)},
       |cand AS (SELECT doc_id, round(s, 6) AS bm25 FROM sc
       |         ORDER BY round(s, 6) DESC, doc_id LIMIT 50),
       |dd AS (SELECT c.doc_id, c.bm25, lower(d.text) AS lt
       |       FROM cand c JOIN documents d ON c.doc_id = d.doc_id),
       |m AS (SELECT doc_id, bm25,
       |    (${strposHits("lt")})::BIGINT AS terms_matched,
       |    (${strposHits(s"substr(lt, 1, $TitleLen)")})::BIGINT AS title_hits
       |  FROM dd),
       |f AS (SELECT doc_id, terms_matched, title_hits,
       |    CASE WHEN title_hits > 0 THEN 'title' ELSE 'full_text' END AS match_field,
       |    round(terms_matched / ${QueryTerms.size}.0, 6) AS relevance, bm25
       |  FROM m)
       |SELECT doc_id, terms_matched, title_hits, match_field, relevance,
       |  round(bm25 * (0.4 + 0.6 * relevance)
       |      * (CASE WHEN match_field = 'title' THEN 1.2 ELSE 1.0 END), 6)
       |    AS final_score
       |FROM f WHERE relevance >= 0.3
       |ORDER BY final_score DESC, doc_id LIMIT 10""".stripMargin

  /* ---------------- rerank_cross ---------------- */

  /** Cross-encoder-shaped rerank, oracle-checked end to end: BM25
    * top-50 candidates are re-scored pairwise against the query text
    * through the REAL batched mapPartitions plumbing
    * (CrossScore.rerankTopK). The stub scorer — Jaccard of lowercase
    * whitespace token SETS — is deliberately SQL-expressible, so the
    * oracle can replay the whole rerank; a production model call
    * swaps in without touching the pipeline shape.
    */
  private def rerankCross(s: SparkSession, d: String): DataFrame = {
    import graft.operators.CrossScore
    import s.implicits._
    val docs = Tables.documents(s, d)
    val q = QueryTerms.mkString(" ")
    val pairs = Bm25.topK(docs, "doc_id", "text", QueryTerms, 50)
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) => CrossScore.TextPair(id, q, text) }
    // rank on the ROUNDED score (the oracle does too) — an unrounded
    // order could pick a different member of a 6dp tie
    CrossScore.scorePairs(pairs, CrossScore.FakeCrossScorer)
      .select(col("pair_id").as("doc_id"),
        round(col("score") + lit(1e-9), 6).as("cross_score"))
      .orderBy(col("cross_score").desc, col("doc_id"))
      .limit(10)
  }

  private val rerankCrossSql =
    s"""WITH ${SqlSnippets.bm25ScoreCtes(termList)},
       |cand AS (SELECT doc_id FROM sc
       |         ORDER BY round(s, 6) DESC, doc_id LIMIT 50),
       |qt AS (SELECT list_distinct(list_filter(
       |         string_split_regex(lower(${TextFns.sqlLit(QueryTerms.mkString(" "))}), '\\s+'),
       |         x -> x <> '')) AS qs),
       |dd AS (SELECT c.doc_id,
       |         list_distinct(list_filter(
       |           string_split_regex(lower(d.text), '\\s+'),
       |           x -> x <> '')) AS ds
       |       FROM cand c JOIN documents d ON c.doc_id = d.doc_id),
       |ov AS (SELECT doc_id,
       |         len(list_filter(qs, x -> list_contains(ds, x)))::DOUBLE AS inter,
       |         len(list_distinct(qs || ds))::DOUBLE AS uni
       |       FROM dd CROSS JOIN qt)
       |SELECT doc_id,
       |  round(CASE WHEN uni = 0 THEN 0.0 ELSE inter / uni END + 0.000000001, 6)
       |    AS cross_score
       |FROM ov ORDER BY cross_score DESC, doc_id LIMIT 10""".stripMargin

  /* ---------------- rerank_fused ---------------- */

  // reference: backend/app/core/reranker.py:66-67 default weights
  private val OrigWeight = 0.3
  private val RerankWeight = 0.7

  /** The reranker's final combine (reranker.py:173-189): cross scores
    * min-max-normalized to 0-100 over the candidate set, fused with
    * the original retrieval score at 0.3/0.7. Normalization reads the
    * ROUNDED cross score on both engines so a 6dp tie cannot pick
    * different extrema.
    */
  private def rerankFused(s: SparkSession, d: String): DataFrame = {
    import graft.operators.CrossScore
    import s.implicits._
    val docs = Tables.documents(s, d)
    val q = QueryTerms.mkString(" ")
    // candidate frame feeds both the scoring pairs and the original-
    // score join — cache it (caller-owned lifecycle, graft.Caching)
    val cand = Bm25.topK(docs, "doc_id", "text", QueryTerms, 50).cache()
    val pairs = cand
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) => CrossScore.TextPair(id, q, text) }
    val scored = CrossScore.scorePairs(pairs, CrossScore.FakeCrossScorer)
      .select(col("pair_id").as("doc_id"),
        round(col("score") + lit(1e-9), 6).as("cross_score"))
    Fusion.minMaxFuse(
      cand.join(scored, Seq("doc_id"))
        .select(col("doc_id"), col("bm25"), col("cross_score")),
      "bm25", "cross_score", OrigWeight, RerankWeight)
      .orderBy(col("final_score").desc, col("doc_id"))
  }

  private val rerankFusedSql = {
    val range = "(CASE WHEN hi > lo THEN hi - lo ELSE 1.0 END)"
    s"""WITH ${SqlSnippets.bm25ScoreCtes(termList)},
       |cand AS (SELECT doc_id, round(s, 6) AS bm25 FROM sc
       |         ORDER BY round(s, 6) DESC, doc_id LIMIT 50),
       |qt AS (SELECT list_distinct(list_filter(
       |         string_split_regex(lower(${TextFns.sqlLit(QueryTerms.mkString(" "))}), '\\s+'),
       |         x -> x <> '')) AS qs),
       |dd AS (SELECT c.doc_id, c.bm25,
       |         list_distinct(list_filter(
       |           string_split_regex(lower(d.text), '\\s+'),
       |           x -> x <> '')) AS ds
       |       FROM cand c JOIN documents d ON c.doc_id = d.doc_id),
       |ov AS (SELECT doc_id, bm25,
       |         len(list_filter(qs, x -> list_contains(ds, x)))::DOUBLE AS inter,
       |         len(list_distinct(qs || ds))::DOUBLE AS uni
       |       FROM dd CROSS JOIN qt),
       |cs AS (SELECT doc_id, bm25,
       |         round(CASE WHEN uni = 0 THEN 0.0 ELSE inter / uni END
       |           + 0.000000001, 6) AS cross_score
       |       FROM ov),
       |mm AS (SELECT *, min(cross_score) OVER () AS lo,
       |         max(cross_score) OVER () AS hi FROM cs)
       |SELECT doc_id, bm25, cross_score,
       |  round((cross_score - lo) / $range * 100.0 + 0.000000001, 6)
       |    AS rerank_score,
       |  round(bm25 * $OrigWeight + (cross_score - lo) / $range * 100.0
       |    * $RerankWeight + 0.000000001, 6) AS final_score
       |FROM mm ORDER BY final_score DESC, doc_id""".stripMargin
  }

  /* ---------------- rerank_recency ---------------- */

  /** Demo binding for the recency/impact/total scoring ladders
    * (reference recommender.py:431-503): the synthetic documents
    * table has no publication date or citation count, so year is
    * derived deterministically from doc_id (2016 + doc_id % 10 →
    * ages 0-9 vs refYear 2025, exercising every recency bucket) and
    * n_chars stands in for citations. The OPERATOR takes any year /
    * citation column; only this binding is synthetic.
    */
  private def rerankRecency(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"),
      (lit(2016) + pmod(col("doc_id"), lit(10))).cast("long").as("year"),
      col("n_chars"))
    base
      .withColumn("recency_score", Fusion.recencyScore(col("year"), 2025))
      .withColumn("impact_score", Fusion.impactScore(col("n_chars")))
      .withColumn("similarity_score",
        round(least(col("n_chars").cast("double") / 1000.0, lit(1.0)) * 100.0, 6))
      .withColumn("total_score", Fusion.totalScore(
        col("similarity_score"), col("recency_score"), col("impact_score")))
      .orderBy(col("total_score").desc, col("doc_id"))
      .limit(50)
      .select(col("doc_id"), col("year"), col("recency_score"),
        col("impact_score"), col("similarity_score"), col("total_score"))
  }

  private val rerankRecencySql =
    """WITH b AS (SELECT doc_id, (2016 + doc_id % 10)::BIGINT AS year, n_chars
      |  FROM documents),
      |sc AS (SELECT doc_id, year,
      |    (CASE WHEN 2025 - year <= 1 THEN 100.0 WHEN 2025 - year <= 3 THEN 80.0
      |          WHEN 2025 - year <= 5 THEN 60.0 WHEN 2025 - year <= 7 THEN 40.0
      |          ELSE 20.0 END) AS recency_score,
      |    (CASE WHEN n_chars <= 0 THEN 10.0 WHEN n_chars < 10 THEN 30.0
      |          WHEN n_chars < 50 THEN 50.0 WHEN n_chars < 100 THEN 70.0
      |          WHEN n_chars < 500 THEN 85.0 ELSE 100.0 END) AS impact_score,
      |    round(least(n_chars::DOUBLE / 1000.0, 1.0) * 100.0, 6) AS similarity_score
      |  FROM b)
      |SELECT doc_id, year, recency_score, impact_score, similarity_score,
      |  round(similarity_score * 0.4 + recency_score * 0.3 + impact_score * 0.3, 6)
      |    AS total_score
      |FROM sc ORDER BY total_score DESC, doc_id LIMIT 50""".stripMargin

  /* ---------------- rerank_keyword ---------------- */

  /** The keyword-similarity leg of the recommender's total score
    * (recommender.py:410 _calculate_keyword_similarity, fused at
    * :146/:496 with the recency and impact legs that rerank_recency
    * carries): similarity = fraction of the distinct lowercase query
    * keywords contained in the text ×100, total = 0.4·sim +
    * 0.3·recency + 0.3·impact. Year/citation proxies are the same
    * deterministic derivations as rerank_recency.
    */
  private def rerankKeyword(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"),
      (lit(2016) + pmod(col("doc_id"), lit(10))).cast("long").as("year"),
      col("n_chars"))
    base
      .withColumn("similarity_score",
        round(Fusion.keywordSimilarity(col("text"), QueryTerms) + lit(1e-9), 6))
      .withColumn("recency_score", Fusion.recencyScore(col("year"), 2025))
      .withColumn("impact_score", Fusion.impactScore(col("n_chars")))
      .withColumn("total_score", Fusion.totalScore(
        col("similarity_score"), col("recency_score"), col("impact_score")))
      .orderBy(col("total_score").desc, col("doc_id"))
      .limit(50)
      .select(col("doc_id"), col("year"), col("similarity_score"),
        col("recency_score"), col("impact_score"), col("total_score"))
  }

  private val rerankKeywordSql = {
    val kws = QueryTerms.map(TextFns.lcRoot).distinct
    val hits = kws.map(w =>
      s"(CASE WHEN strpos(lower(text), ${TextFns.sqlLit(w)}) > 0 THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH b AS (SELECT doc_id, text,
       |    (2016 + doc_id % 10)::BIGINT AS year, n_chars
       |  FROM documents),
       |sc AS (SELECT doc_id, year,
       |    round(least(100.0, ($hits)::DOUBLE / ${kws.size} * 100.0)
       |      + 0.000000001, 6) AS similarity_score,
       |    (CASE WHEN 2025 - year <= 1 THEN 100.0 WHEN 2025 - year <= 3 THEN 80.0
       |          WHEN 2025 - year <= 5 THEN 60.0 WHEN 2025 - year <= 7 THEN 40.0
       |          ELSE 20.0 END) AS recency_score,
       |    (CASE WHEN n_chars <= 0 THEN 10.0 WHEN n_chars < 10 THEN 30.0
       |          WHEN n_chars < 50 THEN 50.0 WHEN n_chars < 100 THEN 70.0
       |          WHEN n_chars < 500 THEN 85.0 ELSE 100.0 END) AS impact_score
       |  FROM b)
       |SELECT doc_id, year, similarity_score, recency_score, impact_score,
       |  round(similarity_score * 0.4 + recency_score * 0.3 + impact_score * 0.3,
       |    6) AS total_score
       |FROM sc ORDER BY total_score DESC, doc_id LIMIT 50""".stripMargin
  }

  /* ---------------- reco_paper ---------------- */

  /** recommend_by_paper END TO END (reference recommender.py:155 +
    * :474 _calculate_total_score): for a base paper, candidates are
    * retrieved by embedding similarity at the reference's
    * max_results×2 search width (:197), then each candidate scores
    * similarity = cosine × 100 (:206), the recency (:431) and impact
    * (:454) ladders, fused 0.4/0.3/0.3 (:474), and the top
    * max_results by total win. Papers = label groups (centroid =
    * mean chunk embedding, vector_store.py:508), base = label 0;
    * year/citations are deterministic proxies like rerank_recency's
    * (citations = rec_id²·9 spreads candidates over five impact
    * buckets). Candidate retrieval goes through the bounded map-side
    * TopKAgg (knnJoin), so the composition scales like
    * vs_similar_papers; the rescoring frame is top-2N rows — driver
    * scale at any corpus size.
    *
    * total_score carries the +1e-9 nudge (unlike Fusion.totalScore's
    * plain round used by rerank_recency): similarity here is a
    * rounded cosine × 100 — an arbitrary-mantissa double, not the
    * tenth-precision ladder values — so the weighted sum can land on
    * a decimal half boundary where Spark HALF_UP and DuckDB binary
    * rounding disagree.
    */
  private val RecoN = 4

  private def recoPaper(s: SparkSession, d: String): DataFrame = {
    val cents = VectorSearch.centroidArrays(
      Tables.embeddings(s, d), "label", "embedding")
    val cands = cents.where(col("label") =!= 0)
      .select(col("label").cast("long").as("rec_id"), col("centroid").as("ce"))
    val q = cents.where(col("label") === 0)
      .select(col("label").cast("long").as("paper"), col("centroid").as("qe"))
    val scored = VectorSearch
      .knnJoin(cands, q, "rec_id", "ce", "paper", "qe", RecoN * 2)
      .drop("rnk") // retrieval rank; the recommendation re-ranks by total
      .withColumn("similarity_score",
        round(col("cos_sim") * 100.0 + lit(1e-9), 6))
      .withColumn("year",
        (lit(2016) + pmod(col("rec_id"), lit(10))).cast("long"))
      .withColumn("citations",
        (col("rec_id") * col("rec_id") * lit(9)).cast("long"))
      .withColumn("recency_score", Fusion.recencyScore(col("year"), 2025))
      .withColumn("impact_score", Fusion.impactScore(col("citations")))
      .withColumn("total_score", round(
        col("similarity_score") * 0.4 + col("recency_score") * 0.3 +
          col("impact_score") * 0.3 + lit(1e-9), 6))
    Fusion.ranked(scored, "rec_id", "total_score")
      .where(col("rank") <= RecoN)
      .select(col("rec_id"), col("year"), col("citations"),
        col("similarity_score"), col("recency_score"), col("impact_score"),
        col("total_score"), col("rank").as("rnk"))
      .orderBy(col("rnk"))
  }

  private val recoPaperSql =
    s"""WITH le AS (SELECT label, embedding,
       |         unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
       |c AS (SELECT label, i, avg(embedding[i]::DOUBLE) AS v FROM le GROUP BY label, i),
       |n AS (SELECT label, sum(v * v) AS ns FROM c GROUP BY label),
       |p AS (SELECT b.label AS rec_id, sum(a.v * b.v) AS dot
       |      FROM c a JOIN c b ON a.i = b.i
       |      WHERE a.label = 0 AND b.label <> 0 GROUP BY 1),
       |s0 AS (SELECT rec_id,
       |         round(dot / (sqrt(na.ns) * sqrt(nb.ns)), 6) AS cos_sim
       |       FROM p JOIN n na ON na.label = 0 JOIN n nb ON p.rec_id = nb.label),
       |cand AS (SELECT rec_id, cos_sim FROM (
       |    SELECT rec_id, cos_sim,
       |      row_number() OVER (ORDER BY cos_sim DESC, rec_id) AS rn
       |    FROM s0) WHERE rn <= ${RecoN * 2}),
       |scx AS (SELECT rec_id,
       |    round(cos_sim * 100.0 + 0.000000001, 6) AS similarity_score,
       |    (2016 + rec_id % 10)::BIGINT AS year,
       |    (rec_id * rec_id * 9)::BIGINT AS citations
       |  FROM cand),
       |lad AS (SELECT *,
       |    (CASE WHEN 2025 - year <= 1 THEN 100.0 WHEN 2025 - year <= 3 THEN 80.0
       |          WHEN 2025 - year <= 5 THEN 60.0 WHEN 2025 - year <= 7 THEN 40.0
       |          ELSE 20.0 END) AS recency_score,
       |    (CASE WHEN citations <= 0 THEN 10.0 WHEN citations < 10 THEN 30.0
       |          WHEN citations < 50 THEN 50.0 WHEN citations < 100 THEN 70.0
       |          WHEN citations < 500 THEN 85.0 ELSE 100.0 END) AS impact_score
       |  FROM scx),
       |tot AS (SELECT *,
       |    round(similarity_score * 0.4 + recency_score * 0.3 + impact_score * 0.3
       |      + 0.000000001, 6) AS total_score
       |  FROM lad),
       |fin AS (SELECT *,
       |    row_number() OVER (ORDER BY total_score DESC, rec_id)::BIGINT AS rnk
       |  FROM tot)
       |SELECT rec_id, year, citations, similarity_score, recency_score,
       |  impact_score, total_score, rnk
       |FROM fin WHERE rnk <= $RecoN ORDER BY rnk""".stripMargin

  /* ---------------- summary_validate ---------------- */

  private val ValPapers = 50

  /** Summary validation (validator.py:102 validate_summary): 50
    * "papers" — embeddings grouped by vec_id residue (10 chunk
    * vectors each, the min-vec_id chunk standing in as the summary
    * embedding) and documents grouped by doc_id residue (chunk texts,
    * min-doc_id chunk as the summary text). Both legs join only on
    * the paper key; the oracle replays cosine dims, the word-set
    * coverage and the weighted rollup.
    */
  private def summaryValidateQ(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(
      col("vec_id"),
      pmod(col("vec_id"), lit(ValPapers)).cast("long").as("paper"),
      col("embedding"))
    val svid = emb.groupBy(col("paper"))
      .agg(min(col("vec_id")).as("svid"))
    val sums = emb.join(svid, Seq("paper"))
      .where(col("vec_id") === col("svid"))
      .select(col("paper"), col("embedding"))
    val docs = Tables.documents(s, d).select(
      col("doc_id"),
      pmod(col("doc_id"), lit(ValPapers)).cast("long").as("paper"),
      col("text"))
    val sdid = docs.groupBy(col("paper"))
      .agg(min(col("doc_id")).as("sdid"))
    val sumTexts = docs.join(sdid, Seq("paper"))
      .where(col("doc_id") === col("sdid"))
      .select(col("paper"), col("text"))
    Validate.summaryValidate(
      emb.select(col("paper"), col("embedding")), sums,
      docs.select(col("paper"), col("text")), sumTexts,
      "paper", "embedding", "text")
      .orderBy(col("paper"))
  }

  private val summaryValidateSql = {
    val stopList = Validate.coverageStopwords
      .map(w => s"'$w'").mkString(", ")
    s"""WITH vp AS (SELECT vec_id, (vec_id % $ValPapers)::BIGINT
       |      AS paper, embedding FROM embeddings),
       |vsm AS (SELECT paper, min(vec_id) AS svid FROM vp
       |  GROUP BY paper),
       |vsv AS (SELECT vp.paper, vp.embedding FROM vp
       |  JOIN vsm ON vp.paper = vsm.paper AND vp.vec_id = vsm.svid),
       |vce AS (SELECT paper, vec_id, embedding,
       |    unnest(generate_series(1, len(embedding))) AS i FROM vp),
       |vsn AS (SELECT paper,
       |    sum(embedding[i]::DOUBLE * embedding[i]::DOUBLE) AS sns
       |  FROM (SELECT paper, embedding,
       |      unnest(generate_series(1, len(embedding))) AS i
       |    FROM vsv) sq
       |  GROUP BY paper),
       |vcd AS (SELECT c.paper, c.vec_id,
       |    sum(c.embedding[i]::DOUBLE * s.embedding[i]::DOUBLE)
       |      AS dot,
       |    sum(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)
       |      AS cns
       |  FROM vce c JOIN vsv s ON s.paper = c.paper GROUP BY 1, 2),
       |vco AS (SELECT vcd.paper, vec_id,
       |    round(dot / nullif(sqrt(cns) * sqrt(sns), 0.0), 6) AS cs
       |  FROM vcd JOIN vsn USING (paper)),
       |vag AS (SELECT paper, round(avg(cs) + 0.000000001, 6)
       |      AS avg_sim, max(cs) AS max_sim
       |  FROM vco GROUP BY paper),
       |wd AS (SELECT (doc_id % $ValPapers)::BIGINT AS paper, doc_id,
       |    text FROM documents),
       |wsd AS (SELECT paper, min(doc_id) AS sdid FROM wd
       |  GROUP BY paper),
       |wo AS (SELECT DISTINCT paper, w FROM (SELECT paper,
       |      unnest(regexp_extract_all(lower(text), '[a-z]{4,}')) AS w
       |    FROM wd) sq
       |  WHERE w NOT IN ($stopList)),
       |ws AS (SELECT DISTINCT paper, w FROM (SELECT wd.paper,
       |      unnest(regexp_extract_all(lower(text), '[a-z]{4,}')) AS w
       |    FROM wd JOIN wsd USING (paper) WHERE doc_id = sdid) sq
       |  WHERE w NOT IN ($stopList)),
       |wno AS (SELECT paper, count(*)::DOUBLE AS no_ FROM wo
       |  GROUP BY paper),
       |wov AS (SELECT wo.paper, count(*)::DOUBLE AS ov FROM wo
       |  JOIN ws ON wo.paper = ws.paper AND wo.w = ws.w
       |  GROUP BY wo.paper),
       |wcv AS (SELECT wno.paper,
       |    coalesce(wov.ov, 0.0) / wno.no_ AS cov
       |  FROM wno LEFT JOIN wov USING (paper)),
       |vs3 AS (SELECT vag.paper,
       |    round(avg_sim * 100.0 + 0.000000001, 6)
       |      AS similarity_score,
       |    round(cov * 100.0 + 0.000000001, 6) AS coverage_score,
       |    round((max_sim * 0.6 + avg_sim * 0.4) * 100.0
       |      + 0.000000001, 6) AS consistency_score
       |  FROM vag JOIN wcv USING (paper))
       |SELECT paper, similarity_score, coverage_score,
       |  consistency_score,
       |  round(similarity_score * 0.4 + coverage_score * 0.3
       |    + consistency_score * 0.3 + 0.000000001, 6)
       |    AS overall_confidence
       |FROM vs3 ORDER BY paper""".stripMargin
  }

  /* ---------------- claim_validate ---------------- */

  /** Claim validation (validator.py:167 validate_claim): 5 claims
    * (vec_id < 5) against the 500-chunk corpus grouped into 50
    * papers; top-10 per claim, support > 0.6 / conflict < 0.3,
    * coverage normalized by corpus_chunks/50.
    */
  private def claimValidateQ(s: SparkSession, d: String): DataFrame = {
    val chunks = Tables.embeddings(s, d).select(
      col("vec_id"),
      pmod(col("vec_id"), lit(ValPapers)).cast("long").as("paper"),
      col("embedding"))
    val claims = Tables.embeddings(s, d).where(col("vec_id") < 5)
      .select(col("vec_id").as("claim_id"), col("embedding").as("qe"))
    Validate.claimValidate(chunks, claims, "vec_id", "embedding",
      "paper", "claim_id", "qe")
      .orderBy(col("claim_id"))
  }

  private val claimValidateSql =
    s"""WITH cvp AS (SELECT vec_id, (vec_id % $ValPapers)::BIGINT
       |      AS paper, embedding AS ce FROM embeddings),
       |cvq AS (SELECT vec_id AS claim_id, embedding AS qe
       |  FROM embeddings WHERE vec_id < 5),
       |cvx AS (SELECT claim_id, vec_id, paper, ce, qe,
       |    unnest(generate_series(1, len(ce))) AS i
       |  FROM cvq CROSS JOIN cvp),
       |cvd AS (SELECT claim_id, vec_id, paper,
       |    sum(ce[i]::DOUBLE * qe[i]::DOUBLE) AS dot,
       |    sum(ce[i]::DOUBLE * ce[i]::DOUBLE) AS na,
       |    sum(qe[i]::DOUBLE * qe[i]::DOUBLE) AS nb
       |  FROM cvx GROUP BY 1, 2, 3),
       |cvs AS (SELECT claim_id, vec_id, paper,
       |    round(dot / nullif(sqrt(na) * sqrt(nb), 0.0), 6) AS cs
       |  FROM cvd),
       |cvr AS (SELECT *, row_number() OVER (PARTITION BY claim_id
       |      ORDER BY cs DESC, vec_id)::BIGINT AS rnk
       |  FROM cvs WHERE cs IS NOT NULL),
       |cvt AS (SELECT * FROM cvr WHERE rnk <= 10),
       |cvn AS (SELECT count(*)::DOUBLE AS nch FROM cvp),
       |cva AS (SELECT claim_id, count(*)::DOUBLE AS nres,
       |    (sum(CASE WHEN cs > 0.6 THEN 1 ELSE 0 END))::BIGINT
       |      AS n_supporting,
       |    (sum(CASE WHEN cs < 0.3 THEN 1 ELSE 0 END))::BIGINT
       |      AS n_conflicting,
       |    count(DISTINCT paper)::BIGINT AS n_unique_papers,
       |    round(avg(cs) + 0.000000001, 6) AS avg_, max(cs) AS max_
       |  FROM cvt GROUP BY claim_id),
       |cvf AS (SELECT claim_id, n_supporting, n_conflicting,
       |    n_unique_papers,
       |    round(avg_ * 100.0 + 0.000000001, 6) AS similarity_score,
       |    round(least(100.0, n_unique_papers::DOUBLE
       |        / greatest(nch / 50.0, 1.0) * 100.0)
       |      + 0.000000001, 6) AS coverage_score,
       |    round(n_supporting::DOUBLE / nres * 100.0
       |      + 0.000000001, 6) AS consistency_score
       |  FROM cva CROSS JOIN cvn)
       |SELECT claim_id, n_supporting, n_conflicting, n_unique_papers,
       |  similarity_score, coverage_score, consistency_score,
       |  round(similarity_score * 0.4 + coverage_score * 0.3
       |    + consistency_score * 0.3 + 0.000000001, 6)
       |    AS overall_confidence
       |FROM cvf ORDER BY claim_id""".stripMargin

  /* ---------------- cross_validate ---------------- */

  /** Paper cross-validation (validator.py:321 cross_validate_papers):
    * each paper's representative = mean of its first 3 chunk
    * embeddings (vec_id < 150 covers exactly chunks p, p+50, p+100 —
    * the reference embeds the concatenated first-3-chunk TEXT, a
    * documented stand-in), top-20 corpus search, self-chunks
    * filtered, the fixed /5 top-sum, >0.5 supporters over 50 papers.
    */
  private def crossValidateQ(s: SparkSession, d: String): DataFrame = {
    val chunks = Tables.embeddings(s, d).select(
      col("vec_id"),
      pmod(col("vec_id"), lit(ValPapers)).cast("long").as("paper"),
      col("embedding"))
    val reps = VectorSearch.centroidArrays(
      Tables.embeddings(s, d).where(col("vec_id") < 3 * ValPapers)
        .select(pmod(col("vec_id"), lit(ValPapers)).cast("long")
          .as("paper"), col("embedding")),
      "paper", "embedding")
    Validate.crossValidate(chunks, reps, "vec_id", "embedding",
      "paper", "paper", "centroid")
      .orderBy(col("paper"))
  }

  private val crossValidateSql =
    s"""WITH xr0 AS (SELECT (vec_id % $ValPapers)::BIGINT AS paper,
       |    embedding, unnest(generate_series(1, len(embedding))) AS i
       |  FROM embeddings WHERE vec_id < ${3 * ValPapers}),
       |xrc AS (SELECT paper, i, avg(embedding[i]::DOUBLE) AS v
       |  FROM xr0 GROUP BY 1, 2),
       |xrn AS (SELECT paper, sum(v * v) AS nb FROM xrc
       |  GROUP BY paper),
       |xce AS (SELECT vec_id, (vec_id % $ValPapers)::BIGINT
       |      AS cpaper, embedding,
       |    unnest(generate_series(1, len(embedding))) AS i
       |  FROM embeddings),
       |xcd AS (SELECT r.paper, c.vec_id, c.cpaper,
       |    sum(c.embedding[c.i]::DOUBLE * r.v) AS dot,
       |    sum(c.embedding[c.i]::DOUBLE * c.embedding[c.i]::DOUBLE)
       |      AS na
       |  FROM xce c JOIN xrc r ON c.i = r.i GROUP BY 1, 2, 3),
       |xcs AS (SELECT xcd.paper, vec_id, cpaper,
       |    round(dot / nullif(sqrt(na) * sqrt(xrn.nb), 0.0), 6) AS cs
       |  FROM xcd JOIN xrn USING (paper)),
       |xrk AS (SELECT *, row_number() OVER (PARTITION BY paper
       |      ORDER BY cs DESC, vec_id)::BIGINT AS rnk
       |  FROM xcs WHERE cs IS NOT NULL),
       |xtp AS (SELECT * FROM xrk WHERE rnk <= 20),
       |xfl AS (SELECT *, row_number() OVER (PARTITION BY paper
       |      ORDER BY rnk) AS r2
       |  FROM xtp WHERE cpaper <> paper),
       |xnp AS (SELECT count(*)::DOUBLE AS npapers FROM xrn),
       |xag AS (SELECT paper,
       |    sum(CASE WHEN r2 <= 5 THEN cs ELSE 0.0 END) AS stop_,
       |    max(cs) AS max_, round(avg(cs) + 0.000000001, 6) AS avg_,
       |    count(DISTINCT CASE WHEN cs > 0.5 THEN cpaper END)::BIGINT
       |      AS nsup
       |  FROM xfl GROUP BY paper)
       |SELECT paper,
       |  round(max_ * 100.0 + 0.000000001, 6) AS similarity_score,
       |  round(nsup::DOUBLE / npapers * 100.0 + 0.000000001, 6)
       |    AS coverage_score,
       |  round(avg_ * 100.0 + 0.000000001, 6) AS consistency_score,
       |  round(stop_ / 5.0 * 100.0 + 0.000000001, 6)
       |    AS overall_confidence
       |FROM xag CROSS JOIN xnp ORDER BY paper""".stripMargin

  /* ---------------- vs_mmr ---------------- */

  private val MmrCandK = 25
  private val MmrK = 5
  private val MmrLambda = 0.7

  /** MMR diversification over the dense shortlist: top-25 by cosine,
    * then 5 greedy picks at lambda 0.7 — the near-duplicate-results
    * knob of a vector store. The oracle unrolls the greedy recurrence
    * as k chained argmax CTEs over the same rounded state.
    */
  private def vsMmr(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    VectorSearch.mmrRerank(emb.where(col("vec_id") =!= 0), q,
      "vec_id", "embedding", "qe", MmrCandK, MmrK, MmrLambda)
      .orderBy(col("pick_order"))
  }

  private val vsMmrSql = {
    val lam = MmrLambda
    val om = 1.0 - MmrLambda
    // chained greedy: sel{t} = sel{t-1} + argmax over the remainder
    val steps = (2 to MmrK).map { t =>
      s"""p$t AS (SELECT v.vec_id, v.rel,
         |    round($lam * v.rel - $om * m.ms + 0.000000001, 6)
         |      AS mmr_score, $t AS pick_order
         |  FROM (SELECT sc.vec_id, sc.rel FROM sc
         |        WHERE sc.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})) v
         |  JOIN (SELECT ia, max(s) AS ms FROM sims
         |        WHERE ib IN (SELECT vec_id FROM sel${t - 1})
         |        GROUP BY ia) m ON v.vec_id = m.ia
         |  ORDER BY mmr_score DESC, v.vec_id LIMIT 1),
         |sel$t AS (SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM p$t)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |ex AS (SELECT e.vec_id, e.embedding AS ce, q.qe AS qe,
       |         unnest(generate_series(1, len(e.embedding))) AS i
       |       FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
       |dt AS (SELECT vec_id,
       |         sum(ce[i]::DOUBLE * qe[i]::DOUBLE) AS dot,
       |         sum(ce[i]::DOUBLE * ce[i]::DOUBLE) AS na,
       |         sum(qe[i]::DOUBLE * qe[i]::DOUBLE) AS nb
       |       FROM ex GROUP BY vec_id),
       |sc AS (SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS rel
       |       FROM dt ORDER BY rel DESC, vec_id LIMIT $MmrCandK),
       |sv AS (SELECT sc.vec_id, e.embedding FROM sc
       |       JOIN embeddings e ON sc.vec_id = e.vec_id),
       |px AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
       |         a.embedding AS va, b.embedding AS vb,
       |         unnest(generate_series(1, len(a.embedding))) AS i
       |       FROM sv a JOIN sv b ON a.vec_id < b.vec_id),
       |ps AS (SELECT ia, ib,
       |         sum(va[i]::DOUBLE * vb[i]::DOUBLE) AS dot,
       |         sum(va[i]::DOUBLE * va[i]::DOUBLE) AS na,
       |         sum(vb[i]::DOUBLE * vb[i]::DOUBLE) AS nb
       |       FROM px GROUP BY ia, ib),
       |sims AS (SELECT ia, ib,
       |           round(dot / (sqrt(na) * sqrt(nb)) + 0.000000001, 6) AS s
       |         FROM ps
       |         UNION ALL
       |         SELECT ib, ia,
       |           round(dot / (sqrt(na) * sqrt(nb)) + 0.000000001, 6)
       |         FROM ps),
       |p1 AS (SELECT vec_id, rel,
       |         round($lam * rel + 0.000000001, 6) AS mmr_score,
       |         1 AS pick_order
       |       FROM sc
       |       ORDER BY round($lam * rel + 0.000000001, 6) DESC, vec_id
       |       LIMIT 1),
       |sel1 AS (SELECT * FROM p1),
       |$steps
       |SELECT vec_id, rel, mmr_score, pick_order FROM sel$MmrK
       |ORDER BY pick_order""".stripMargin
  }

  /* ---------------- emb_health ---------------- */

  /** Ingest-QC binding: the clean testdata embeddings are all unit
    * norm, so the scenario injects the three failure modes a broken
    * encoder run produces — zero vectors (ids ≡ 0 mod 97), NaN
    * components (ids ≡ 7 mod 101), and NULL components (ids ≡ 3 mod
    * 103 — a serialization bug / missing field) — and the report
    * must count each per label while keeping norm stats over healthy
    * rows only. The null mode exercises the r14-advice path: rows
    * where a bare `exists(isnan)` would return NULL and vanish from
    * every counter.
    */
  private def embHealthQ(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).withColumn("embedding",
      when(pmod(col("vec_id"), lit(97)) === 0,
        transform(col("embedding"), _ => lit(0.0f)))
        .when(pmod(col("vec_id"), lit(101)) === 7,
          transform(col("embedding"), _ => lit(Float.NaN)))
        .when(pmod(col("vec_id"), lit(103)) === 3,
          transform(col("embedding"), _ => lit(null).cast("float")))
        .otherwise(col("embedding")))
    VectorSearch.embHealth(e, "vec_id", "embedding", "label")
      .orderBy(col("label"))
  }

  private val embHealthSql =
    """WITH e AS (SELECT vec_id, label,
      |    CASE WHEN vec_id % 97 = 0
      |           THEN list_transform(embedding, x -> 0.0::FLOAT)
      |         WHEN vec_id % 101 = 7
      |           THEN list_transform(embedding, x -> 'NaN'::FLOAT)
      |         WHEN vec_id % 103 = 3
      |           THEN list_transform(embedding, x -> NULL::FLOAT)
      |         ELSE embedding END AS embedding
      |  FROM embeddings),
      |r AS (SELECT label, len(embedding)::BIGINT AS dim,
      |    embedding IS NULL OR
      |      len(list_filter(embedding, x -> x IS NULL)) > 0 AS is_null,
      |    len(list_filter(embedding, x -> isnan(x))) > 0 AS is_nan_raw,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> x::DOUBLE * x::DOUBLE))) AS nrm
      |  FROM e),
      |f AS (SELECT label, dim, is_null,
      |    (NOT is_null) AND is_nan_raw AS is_nan,
      |    (NOT is_null) AND (NOT is_nan_raw) AND nrm = 0 AS is_zero,
      |    CASE WHEN is_null OR is_nan_raw THEN NULL ELSE nrm END AS hnrm
      |  FROM r)
      |SELECT label, count(*)::BIGINT AS n_vecs,
      |  sum(CASE WHEN is_zero THEN 1 ELSE 0 END)::BIGINT AS n_zero,
      |  sum(CASE WHEN is_nan THEN 1 ELSE 0 END)::BIGINT AS n_nan,
      |  sum(CASE WHEN is_null THEN 1 ELSE 0 END)::BIGINT AS n_null,
      |  min(dim) AS dim_min, max(dim) AS dim_max,
      |  round(avg(CASE WHEN NOT is_zero AND NOT is_nan AND NOT is_null
      |    THEN hnrm END) + 0.000000001, 4) AS avg_norm,
      |  round(min(CASE WHEN NOT is_zero AND NOT is_nan AND NOT is_null
      |    THEN hnrm END) + 0.000000001, 4) AS min_norm,
      |  round(max(CASE WHEN NOT is_zero AND NOT is_nan AND NOT is_null
      |    THEN hnrm END) + 0.000000001, 4) AS max_norm
      |FROM f GROUP BY label ORDER BY label""".stripMargin

  /* ---------------- emb_drift ---------------- */

  private val DriftMinCos = 0.99

  /** Encoder-canary binding: the "new snapshot" re-embeds labels ≡ 0
    * (mod 3) with a shifted first component (the silently-deployed
    * encoder change), leaves the rest byte-identical — the monitor
    * must flag exactly the shifted labels as drifted and report the
    * untouched ones at cosine 1.0.
    */
  private def embDriftQ(s: SparkSession, d: String): DataFrame = {
    val oldE = Tables.embeddings(s, d)
    val newE = oldE.withColumn("embedding",
      when(pmod(col("label"), lit(3)) === 0,
        concat(array(element_at(col("embedding"), 1) + lit(0.5f)),
          slice(col("embedding"), lit(2),
            size(col("embedding")) - 1)))
        .otherwise(col("embedding")))
    VectorSearch.embDrift(oldE, newE, "label", "embedding", DriftMinCos)
      .orderBy(col("label"))
  }

  private val embDriftSql =
    s"""WITH ne AS (SELECT vec_id, label,
       |    CASE WHEN label % 3 = 0
       |      THEN [embedding[1] + 0.5::FLOAT] || embedding[2:]
       |      ELSE embedding END AS embedding
       |  FROM embeddings),
       |oidx AS (SELECT label, embedding,
       |    unnest(generate_series(1, len(embedding))) AS i
       |  FROM embeddings),
       |ov AS (SELECT label, i, embedding[i]::DOUBLE AS v FROM oidx),
       |oc AS (SELECT label, i, avg(v) AS vo FROM ov GROUP BY 1, 2),
       |nidx AS (SELECT label, embedding,
       |    unnest(generate_series(1, len(embedding))) AS i
       |  FROM ne),
       |nv AS (SELECT label, i, embedding[i]::DOUBLE AS v FROM nidx),
       |nc AS (SELECT label, i, avg(v) AS vn FROM nv GROUP BY 1, 2),
       |sm AS (SELECT oc.label, sum(vo * vn) AS dot,
       |    sum(vo * vo) AS nso, sum(vn * vn) AS nsn
       |  FROM oc JOIN nc ON oc.label = nc.label AND oc.i = nc.i
       |  GROUP BY 1),
       |cs AS (SELECT label,
       |    round(dot / nullif(sqrt(nso) * sqrt(nsn), 0), 6)
       |      AS centroid_cos
       |  FROM sm),
       |co AS (SELECT label, count(*)::BIGINT AS n_old
       |  FROM embeddings GROUP BY label),
       |cn2 AS (SELECT label, count(*)::BIGINT AS n_new
       |  FROM ne GROUP BY label)
       |SELECT cs.label, n_old, n_new, centroid_cos,
       |  CASE WHEN centroid_cos IS NULL THEN 'degenerate'
       |       WHEN centroid_cos < $DriftMinCos THEN 'drifted'
       |       ELSE 'stable' END AS status
       |FROM cs JOIN co ON cs.label = co.label
       |  JOIN cn2 ON cs.label = cn2.label
       |ORDER BY cs.label""".stripMargin

  /* ---------------- proj_pca2d ---------------- */

  /** PCA-projection oracle row — the RESTRICTED-oracle device that
    * graduates Projection.pca2d from spec-only invariants to a
    * cross-engine hash row (r15 verdict item 2). The general operator
    * runs at any d, but only a d=2 eigenproblem has a closed form
    * DuckDB can replay, so the row feeds pca2d a DERIVED 2-D input
    * built from the stored embeddings:
    *
    *   p = e[1] + 0.3·e[33]   (variance ≈ 0.017)
    *   q = 0.5·e[2]           (variance ≈ 0.0035)
    *
    * The 0.3/0.5 mix forces a ~5× eigenvalue gap on the
    * near-isotropic synthetic embeddings — distinct eigenvalues make
    * the eigenvectors unique up to sign (pinned by pca2dSignedTo
    * against p/q), and the wide gap keeps the eigenvector angle
    * well-conditioned in BOTH engines, so 6dp rounding has ~6 orders
    * of margin over the cross-engine float noise. What the row pins:
    * the full production pipeline — MLlib covariance + eigenvectors,
    * uncentered projection, mean/stddev_pop standardization, the
    * 1e-8 guard, sign orientation — against an independent
    * closed-form 2×2 eigen replay (well-conditioned (λ1−c, b) form,
    * y-axis as the exact perpendicular).
    */
  private def projPca2d(s: SparkSession, d: String): DataFrame = {
    val in = Tables.embeddings(s, d).select(col("vec_id"),
      (element_at(col("embedding"), 1).cast("double")
        + element_at(col("embedding"), 33).cast("double") * 0.3).as("p"),
      (element_at(col("embedding"), 2).cast("double") * 0.5).as("q"))
      .withColumn("v", array(col("p"), col("q")))
    Projection.pca2dSignedTo(in, "vec_id", "v", Seq("p", "q"))
      .select(col("vec_id"),
        round(col("x"), 6).as("x"), round(col("y"), 6).as("y"))
      .orderBy(col("vec_id"))
  }

  private val projPca2dSql =
    """WITH base AS (SELECT vec_id,
      |    embedding[1]::DOUBLE + 0.3 * embedding[33]::DOUBLE AS p,
      |    0.5 * embedding[2]::DOUBLE AS q
      |  FROM embeddings),
      |cov AS (SELECT var_pop(p) AS a, covar_pop(p, q) AS b,
      |    var_pop(q) AS c FROM base),
      |eig AS (SELECT a, b, c,
      |    (a + c) / 2 + sqrt((a - c) * (a - c) / 4 + b * b) AS l1
      |  FROM cov),
      |v AS (SELECT
      |    (l1 - c) / sqrt((l1 - c) * (l1 - c) + b * b) AS u1x,
      |    b / sqrt((l1 - c) * (l1 - c) + b * b) AS u1y
      |  FROM eig),
      |prj AS (SELECT vec_id, p, q,
      |    p * u1x + q * u1y AS rx,
      |    p * (-u1y) + q * u1x AS ry
      |  FROM base CROSS JOIN v),
      |st AS (SELECT avg(rx) AS mx, stddev_pop(rx) AS sx,
      |    avg(ry) AS my, stddev_pop(ry) AS sy FROM prj),
      |sc AS (SELECT vec_id, p, q,
      |    (rx - mx) / (sx + 0.00000001) AS x0,
      |    (ry - my) / (sy + 0.00000001) AS y0
      |  FROM prj CROSS JOIN st),
      |sg AS (SELECT
      |    CASE WHEN covar_pop(x0, p) < 0 THEN -1.0 ELSE 1.0 END AS fx,
      |    CASE WHEN covar_pop(y0, q) < 0 THEN -1.0 ELSE 1.0 END AS fy
      |  FROM sc)
      |SELECT vec_id, round(x0 * fx, 6) AS x, round(y0 * fy, 6) AS y
      |FROM sc CROSS JOIN sg ORDER BY vec_id""".stripMargin

  /** Oracle-SQL overrides for a NON-default stored-vector dimension.
    * Every vector oracle except the two PQ rows derives the dimension
    * from the data itself (`generate_series(1, len(embedding))`); the
    * PQ twins bake the subspace width dim/m into their index
    * arithmetic, so a d=768 verify pass (the reference embedder's
    * real width — reference embeddings.py:70-72) regenerates exactly
    * these two strings. The driver's published oracleSql stays bound
    * to the testdata's d=64.
    */
  def oracleOverridesAt(dim: Int): Map[String, String] = {
    // mirror Pq.train's contract: an indivisible dim would generate
    // SQL that silently indexes past the stored vectors (DuckDB list
    // indexing returns NULL out of range) and fail as opaque DIFF
    // rows instead of a clear refusal
    require(dim > 0 && dim % PqM == 0 && dim % IpM == 0,
      s"oracleOverridesAt: dim $dim must be positive and divisible " +
        s"by m (PQ m=$PqM, IVF-PQ m=$IpM)")
    Map(
      "vs_pq_adc" -> pqAdcSqlAt(dim),
      "vs_ivf_pq" -> ivfPqSqlAt(dim))
  }

  val defs: Seq[Qdef] = Seq(
    Qdef("proj_pca2d", projPca2d, Some(projPca2dSql)),
    Qdef("vs_dense_topk", denseTopK, Some(denseTopKSql)),
    Qdef("emb_health", embHealthQ, Some(embHealthSql)),
    Qdef("emb_drift", embDriftQ, Some(embDriftSql)),
    Qdef("vs_sq8_topk", sq8TopK, Some(sq8TopKSql)),
    Qdef("vs_mmr", vsMmr, Some(vsMmrSql)),
    Qdef("vs_filtered_topk", filteredTopK, Some(filteredTopKSql)),
    Qdef("vs_section_topk", sectionTopK, Some(sectionTopKSql)),
    Qdef("vs_knn_join", knnJoin, Some(knnJoinSql)),
    Qdef("vs_centroid_sim", centroidSim, Some(centroidSimSql)),
    Qdef("vs_similar_papers", similarPapers, Some(similarPapersSql)),
    Qdef("vs_ann_ivf", annIvf, Some(annIvfSql)),
    Qdef("vs_ann_ivf_srp", annIvfSrp, Some(annIvfSrpSql)),
    Qdef("vs_ivf_sq8", ivfSq8, Some(ivfSq8Sql)),
    Qdef("vs_ivf_append", ivfAppend, Some(ivfAppendSql)),
    Qdef("vs_pq_adc", pqAdc, Some(pqAdcSql)),
    Qdef("vs_ivf_pq", ivfPq, Some(ivfPqSql)),
    Qdef("vs_ann_recall", annRecall, Some(annRecallSql)),
    Qdef("vs_ann_ivf_batch", annIvfBatch, Some(annIvfBatchSql)),
    Qdef("bm25_search", bm25Search, Some(bm25Sql)),
    Qdef("bm25_synonyms", bm25Synonyms, Some(bm25SynonymsSql)),
    Qdef("rank_ndcg", rankNdcg, Some(rankNdcgSql)),
    Qdef("hybrid_rrf", hybridRrf, Some(hybridRrfSql)),
    Qdef("rerank_rule", rerankRule, Some(rerankRuleSql)),
    Qdef("precision_search", precisionSearch, Some(precisionSearchSql)),
    Qdef("rerank_recency", rerankRecency, Some(rerankRecencySql)),
    Qdef("rerank_keyword", rerankKeyword, Some(rerankKeywordSql)),
    Qdef("rerank_cross", rerankCross, Some(rerankCrossSql)),
    Qdef("rerank_fused", rerankFused, Some(rerankFusedSql)),
    Qdef("reco_paper", recoPaper, Some(recoPaperSql)),
    Qdef("summary_validate", summaryValidateQ, Some(summaryValidateSql)),
    Qdef("claim_validate", claimValidateQ, Some(claimValidateSql)),
    Qdef("cross_validate", crossValidateQ, Some(crossValidateSql)))
}
