package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFns
import graft.operators.{SingleCell, Stats, VectorSearch}

/** Grouped differential-statistics queries (the reference's RNA-seq
  * DEG surface re-expressed as cohort-vs-cohort groupBy statistics).
  */
object StatsQueries {

  /* ---------------- deg_stats ---------------- */

  private val NGenes = 40

  /** Demo binding on synthetic cohorts (the reference's
    * _run_synthetic_deg does the same on generated counts): feature
    * ("gene") = l_partkey mod 40, cohorts = returned vs acknowledged
    * line items, expression value = quantity — ~500 samples per arm
    * per gene at sf0.01, the large-sample regime the normal
    * approximation expects.
    */
  private[graft] def degStats(s: SparkSession, d: String): DataFrame =
    Stats.diffStats(
      Tables.lineitem(s, d).select(
        pmod(col("l_partkey"), lit(NGenes)).cast("long").as("gene"),
        col("l_returnflag").as("cohort"),
        col("l_quantity").cast("double").as("expr_val")),
      "gene", "cohort", "expr_val", cohortA = "A", cohortB = "R")
      .orderBy(col("gene"))

  // the erfc polynomial (A-S 7.1.26) — TEXTUALLY the same arithmetic
  // Stats.normalTwoSidedP builds, so both engines agree to rounding
  private val pSql =
    """(0.254829592 * tt - 0.284496736 * tt*tt + 1.421413741 * tt*tt*tt
      |       - 1.453152027 * tt*tt*tt*tt + 1.061405429 * tt*tt*tt*tt*tt)
      |      * exp(-x * x)""".stripMargin

  /** The diffStats replay chain (ag → … → bh) over a preceding CTE
    * `sm(gene, cohort, v)` — shared verbatim by deg_stats (cohorts
    * 'A'/'R' on lineitem) and sc_pseudobulk (cohorts 'even'/'odd' on
    * the pseudobulk CPM profile), so both oracles run textually the
    * same arithmetic as Stats.diffStats.
    */
  private def diffCtes(a: String, b: String): String =
    s"""ag AS (SELECT gene,
       |    count(CASE WHEN cohort = '$a' THEN v END)::BIGINT AS n_a,
       |    count(CASE WHEN cohort = '$b' THEN v END)::BIGINT AS n_b,
       |    avg(CASE WHEN cohort = '$a' THEN v END) AS raw_mean_a,
       |    avg(CASE WHEN cohort = '$b' THEN v END) AS raw_mean_b,
       |    var_samp(CASE WHEN cohort = '$a' THEN v END) AS var_a,
       |    var_samp(CASE WHEN cohort = '$b' THEN v END) AS var_b
       |  FROM sm GROUP BY gene),
       |ts AS (SELECT gene, n_a, n_b, raw_mean_a, raw_mean_b,
       |    (raw_mean_a - raw_mean_b)
       |      / nullif(sqrt(var_a / n_a + var_b / n_b), 0.0) AS t
       |  FROM ag),
       |px AS (SELECT *, abs(t) / sqrt(2.0) AS x FROM ts),
       |pt AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM px),
       |sc AS (SELECT gene, n_a, n_b,
       |    round(raw_mean_a + 0.000000001, 6) AS mean_a,
       |    round(raw_mean_b + 0.000000001, 6) AS mean_b,
       |    round(ln(raw_mean_a + 1.0) / ln(2.0)
       |        - ln(raw_mean_b + 1.0) / ln(2.0) + 0.000000001, 6) AS log2_fc,
       |    round(t + 0.000000001, 6) AS t_stat,
       |    round($pSql + 0.000000001, 6) AS p_value
       |  FROM pt),
       |tot AS (SELECT count(p_value)::BIGINT AS n_feat FROM sc),
       |rk AS (SELECT sc.*, tot.n_feat,
       |    row_number() OVER (ORDER BY p_value ASC NULLS LAST, gene)::BIGINT
       |      AS p_rank
       |  FROM sc CROSS JOIN tot),
       |bh AS (SELECT *,
       |    CASE WHEN p_value IS NULL THEN NULL ELSE
       |      round(least(
       |        min(p_value * n_feat / p_rank) OVER (
       |          ORDER BY p_value DESC NULLS FIRST, gene DESC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |        1.0) + 0.000000001, 6) END AS p_adj
       |  FROM rk)""".stripMargin

  // the full deg-stats pipeline as a reusable WITH body (deg_enrich
  // builds its DEG list from the same CTEs)
  private[queries] val degStatsCtes =
    s"""sm AS (SELECT (l_partkey % $NGenes)::BIGINT AS gene,
       |    l_returnflag AS cohort, l_quantity::DOUBLE AS v
       |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
       |${diffCtes("A", "R")}""".stripMargin

  private val degStatsSql =
    s"""WITH $degStatsCtes
       |SELECT gene, n_a, n_b, mean_a, mean_b, log2_fc, t_stat, p_value, p_adj
       |FROM bh ORDER BY gene""".stripMargin

  /* ---------------- deg_cpm ---------------- */

  private[queries] val NSamples = 20

  /** Count-matrix binding: sample = supplier mod 20, gene = part mod
    * 40, count = summed quantity. Counts are integral doubles, so
    * library sums are EXACT in both engines; the CPM ratios then
    * agree bit-for-bit and rounding is belt-and-braces.
    */
  private def countMatrix(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(
        pmod(col("l_suppkey"), lit(NSamples)).cast("long").as("sample_id"),
        pmod(col("l_partkey"), lit(NGenes)).cast("long").as("gene"),
        col("l_quantity").cast("double").as("qty"))
      .groupBy(col("sample_id"), col("gene"))
      .agg(sum(col("qty")).as("raw_count"))

  private def degCpm(s: SparkSession, d: String): DataFrame =
    Stats.cpmNormalize(countMatrix(s, d), "sample_id", "gene", "raw_count")
      .select(col("sample_id"), col("gene"),
        round(col("raw_count") + lit(1e-9), 2).as("raw_count"),
        round(col("cpm") + lit(1e-9), 4).as("cpm"),
        round(col("log2_cpm") + lit(1e-9), 6).as("log2_cpm"))
      .orderBy(col("sample_id"), col("gene"))

  private[queries] val countMatrixSql =
    s"""cm AS (SELECT (l_suppkey % $NSamples)::BIGINT AS sample_id,
       |    (l_partkey % $NGenes)::BIGINT AS gene,
       |    sum(l_quantity::DOUBLE) AS raw_count
       |  FROM lineitem GROUP BY 1, 2),
       |lib AS (SELECT sample_id, sum(raw_count) AS lib_size
       |  FROM cm GROUP BY sample_id),
       |cpm AS (SELECT cm.sample_id, cm.gene, cm.raw_count,
       |    cm.raw_count / lib.lib_size * 1000000.0 AS cpm
       |  FROM cm JOIN lib ON cm.sample_id = lib.sample_id)""".stripMargin

  private val degCpmSql =
    s"""WITH $countMatrixSql
       |SELECT sample_id, gene,
       |  round(raw_count + 0.000000001, 2) AS raw_count,
       |  round(cpm + 0.000000001, 4) AS cpm,
       |  round(ln(cpm + 1.0) / ln(2.0) + 0.000000001, 6) AS log2_cpm
       |FROM cpm ORDER BY sample_id, gene""".stripMargin

  /* ---------------- deg_top_var ---------------- */

  private val TopVarN = 10

  private def degTopVar(s: SparkSession, d: String): DataFrame =
    Stats.topVarianceFeatures(
      Stats.cpmNormalize(countMatrix(s, d), "sample_id", "gene", "raw_count"),
      "gene", "log2_cpm", TopVarN)

  private val degTopVarSql =
    s"""WITH $countMatrixSql,
       |lg AS (SELECT gene, ln(cpm + 1.0) / ln(2.0) AS log2_cpm FROM cpm)
       |SELECT gene, count(*)::BIGINT AS n_samples,
       |  round(var_samp(log2_cpm) + 0.000000001, 6) AS variance
       |FROM lg GROUP BY gene
       |ORDER BY variance DESC, gene LIMIT $TopVarN""".stripMargin

  /* ---------------- deg_network / deg_hub ---------------- */

  private val MinAbsCorr = 0.4
  private val HubN = 10

  /** Co-expression network edges over the normalized expression
    * profiles (agent2_network analog): pairwise Pearson correlation
    * between genes across the 20 samples, |corr| >= 0.4 kept.
    */
  private def normalized(s: SparkSession, d: String): DataFrame =
    Stats.cpmNormalize(countMatrix(s, d), "sample_id", "gene", "raw_count")
      .select(col("sample_id"), col("gene"), col("log2_cpm"))

  private def degNetwork(s: SparkSession, d: String): DataFrame =
    Stats.correlationEdges(normalized(s, d),
      "gene", "sample_id", "log2_cpm", MinAbsCorr)
      .orderBy(col("ga"), col("gb"))

  private[queries] val corrCtes =
    s"""lg AS (SELECT sample_id AS s, gene,
       |    ln(cpm + 1.0) / ln(2.0) AS v FROM cpm),
       |mm AS (SELECT a.gene AS ga, b.gene AS gb, count(*)::DOUBLE AS n,
       |    sum(a.v) AS sx, sum(b.v) AS sy, sum(a.v * a.v) AS sxx,
       |    sum(b.v * b.v) AS syy, sum(a.v * b.v) AS sxy
       |  FROM lg a JOIN lg b ON a.s = b.s AND a.gene < b.gene
       |  GROUP BY 1, 2),
       |ce AS (SELECT ga, gb,
       |    (n * sxy - sx * sy) / nullif(sqrt((n * sxx - sx * sx)
       |      * (n * syy - sy * sy)), 0.0) AS corr
       |  FROM mm),
       |ed AS (SELECT ga, gb, round(corr + 0.000000001, 6) AS corr,
       |    round(abs(corr) + 0.000000001, 6) AS abs_corr
       |  FROM ce WHERE abs(corr) >= $MinAbsCorr)""".stripMargin

  private val degNetworkSql =
    s"""WITH $countMatrixSql,
       |$corrCtes
       |SELECT ga, gb, corr, abs_corr FROM ed ORDER BY ga, gb""".stripMargin

  /** Hub genes by degree centrality over the thresholded edges
    * (agent2_network.py:207/:257 analog).
    */
  private[graft] def degHub(s: SparkSession, d: String): DataFrame =
    degHubFromCounts(countMatrix(s, d))

  /** deg_hub below the count aggregate, over a PRE-AGGREGATED count
    * matrix (sample_id, gene, raw_count) — shared by the standalone
    * query above and IntegratedQueries' one-scan moment frame (whose
    * re-aggregated counts are EXACT sums of integral quantities, so
    * the cpm/correlation arithmetic downstream is bit-identical).
    */
  private[graft] def degHubFromCounts(counts: DataFrame): DataFrame =
    Stats.hubFeatures(
      Stats.correlationEdges(
        Stats.cpmNormalize(counts, "sample_id", "gene", "raw_count")
          .select(col("sample_id"), col("gene"), col("log2_cpm")),
        "gene", "sample_id", "log2_cpm", MinAbsCorr),
      HubN)
      .select(col("feature").as("gene"), col("degree"))

  // hub computation as reusable CTEs (assumes corrCtes' `ed` in scope)
  private[queries] val hubCtes =
    s"""dg AS (SELECT ga AS gene FROM ed UNION ALL SELECT gb FROM ed),
       |hubq AS (SELECT gene, count(*)::BIGINT AS degree FROM dg
       |  GROUP BY gene ORDER BY degree DESC, gene LIMIT $HubN)""".stripMargin

  private val degHubSql =
    s"""WITH $countMatrixSql,
       |$corrCtes,
       |$hubCtes
       |SELECT gene, degree FROM hubq ORDER BY degree DESC, gene""".stripMargin

  /* ---------------- deg_direction ---------------- */

  /** Up/down DEG separation (reference: the direction split feeding
    * agent3's per-direction pathway runs — tests/test_rnaseq_pipeline
    * .py:148 test_direction_separation): significant genes bucketed
    * by fold-change sign, with per-bucket count, mean |effect| and
    * best p. Threshold 0.9 is the DEMO binding constant: the
    * synthetic quantities carry no real signal (min p_adj ≈ 0.62),
    * and 0.9 populates all three buckets; production uses 0.05 —
    * only the constant differs. One aggregate over the deg-stats
    * frame; groups are ≤ 3 rows.
    */
  private val DirPadj = 0.9

  private def degDirection(s: SparkSession, d: String): DataFrame =
    degStats(s, d)
      .withColumn("direction",
        when(col("p_adj") < DirPadj && col("log2_fc") > 0, "up")
          .when(col("p_adj") < DirPadj && col("log2_fc") < 0, "down")
          .otherwise("ns"))
      .groupBy(col("direction"))
      .agg(count(lit(1)).as("n_genes"),
        round(avg(col("log2_fc")) + lit(1e-9), 4).as("avg_lfc"),
        min(col("p_adj")).as("best_padj"))
      .orderBy(col("direction"))

  private val degDirectionSql =
    s"""WITH $degStatsCtes,
       |dr AS (SELECT *,
       |    CASE WHEN p_adj < $DirPadj AND log2_fc > 0 THEN 'up'
       |         WHEN p_adj < $DirPadj AND log2_fc < 0 THEN 'down'
       |         ELSE 'ns' END AS direction
       |  FROM bh)
       |SELECT direction, count(*)::BIGINT AS n_genes,
       |  round(avg(log2_fc) + 0.000000001, 4) AS avg_lfc,
       |  min(p_adj) AS best_padj
       |FROM dr GROUP BY direction ORDER BY direction""".stripMargin

  /* ---------------- deg_centrality ---------------- */

  private val EigIters = 8

  /** Hub centrality metrics over the same thresholded co-expression
    * edges as deg_network: degree + nx-normalized degree centrality,
    * weighted-degree betweenness proxy (the reference's >1M-edge
    * path, network_enhancer.py:495), and fixed-iteration power-
    * iteration eigenvector centrality (agent2_network.py:222).
    */
  private def degCentrality(s: SparkSession, d: String): DataFrame =
    Stats.centrality(
      Stats.correlationEdges(normalized(s, d),
        "gene", "sample_id", "log2_cpm", MinAbsCorr),
      EigIters)

  /** One power-iteration round: y = (I + A) x(n), then x(n+1) =
    * round(y / ||y||₂ + 1e-9, 6) — the same per-round 6dp rounding
    * the Spark loop applies, so both engines iterate identical state.
    * MATERIALIZED is load-bearing: each x(n)/y(n) is referenced more
    * than once, so inlined expansion would be exponential in the
    * round count (observed: DuckDB re-opening the base parquet
    * thousands of times → "Too many open files").
    */
  private def eigStepSql(n: Int): String =
    s"""s${n + 1} AS MATERIALIZED (SELECT nd.gene, sum(x$n.x) AS sx FROM nd
       |  JOIN x$n ON x$n.gene = nd.nbr GROUP BY nd.gene),
       |y${n + 1} AS MATERIALIZED (
       |  SELECT x$n.gene, x$n.x + coalesce(s${n + 1}.sx, 0.0) AS y
       |  FROM x$n LEFT JOIN s${n + 1} USING (gene)),
       |x${n + 1} AS MATERIALIZED (SELECT gene,
       |    round(y / sqrt((SELECT sum(y * y) FROM y${n + 1})) + 0.000000001,
       |      6) AS x
       |  FROM y${n + 1})""".stripMargin

  private val degCentralitySql =
    s"""WITH $countMatrixSql,
       |$corrCtes,
       |nd AS MATERIALIZED (SELECT ga AS gene, gb AS nbr, abs_corr FROM ed
       |  UNION ALL SELECT gb, ga, abs_corr FROM ed),
       |dg AS MATERIALIZED (SELECT gene, count(*)::BIGINT AS degree,
       |    sum(abs_corr) AS wdeg FROM nd GROUP BY gene),
       |x0 AS MATERIALIZED (SELECT gene, 1.0 AS x FROM dg),
       |${(0 until EigIters).map(eigStepSql).mkString(",\n")}
       |SELECT dg.gene, dg.degree,
       |  round(dg.degree / ((SELECT count(*)::DOUBLE FROM dg) - 1.0)
       |    + 0.000000001, 6) AS degree_centrality,
       |  round(dg.wdeg / (SELECT max(wdeg) FROM dg) + 0.000000001, 6)
       |    AS betweenness_w,
       |  x$EigIters.x AS eigenvector
       |FROM dg JOIN x$EigIters USING (gene)
       |ORDER BY eigenvector DESC, gene""".stripMargin

  /* ---------------- deg_enrich ---------------- */

  private val EnrichTopN = 10

  /** Pathway membership, synthetic but shaped like a real gene-set
    * library (agent3_pathway's Enrichr databases): pathway = brand,
    * gene = partkey mod 40, sparsified by p_size < 4 so pathway sizes
    * vary across scale factors (K ∈ [1,10] at sf0.01).
    */
  private def membership(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).where(col("p_size") < 4)
      .select(col("p_brand").as("pathway"),
        pmod(col("p_partkey"), lit(NGenes)).cast("long").as("gene"))

  /** DEG list = top-10 genes by adjusted p (the reference's "top
    * max_genes by padj" cut, agent3_pathway.py:241), enriched against
    * the membership table over the 40-gene universe.
    */
  private def degListTop(s: SparkSession, d: String): DataFrame =
    Stats.diffStats(
      Tables.lineitem(s, d).select(
        pmod(col("l_partkey"), lit(NGenes)).cast("long").as("gene"),
        col("l_returnflag").as("cohort"),
        col("l_quantity").cast("double").as("expr_val")),
      "gene", "cohort", "expr_val", cohortA = "A", cohortB = "R")
      .orderBy(col("p_adj").asc_nulls_last, col("gene"))
      .limit(EnrichTopN)

  private def degEnrich(s: SparkSession, d: String): DataFrame =
    Stats.hypergeomEnrich(
      membership(s, d), "pathway", "gene",
      degListTop(s, d), "gene", universe = NGenes)
      .orderBy(col("p_adj").asc_nulls_last, col("pathway"))

  // the DEG-list and membership CTEs, shared by deg_enrich and
  // deg_validate (both assume degStatsCtes is already in the WITH)
  private val degListCte =
    s"""deg AS (SELECT gene FROM bh
       |  ORDER BY p_adj ASC NULLS LAST, gene LIMIT $EnrichTopN)""".stripMargin

  private val memCte =
    s"""mem AS (SELECT DISTINCT p_brand AS pathway,
       |    (p_partkey % $NGenes)::BIGINT AS gene
       |  FROM part WHERE p_size < 4)""".stripMargin

  private val degEnrichSql =
    s"""WITH $degStatsCtes,
       |$degListCte,
       |$memCte,
       |szs AS (SELECT pathway, count(*)::BIGINT AS pathway_size
       |  FROM mem GROUP BY 1),
       |ov AS (SELECT pathway, count(*)::BIGINT AS gene_count
       |  FROM mem JOIN deg USING (gene) GROUP BY 1),
       |ls AS (SELECT count(*)::BIGINT AS list_size FROM deg),
       |lfs AS (SELECT i, sum(ln(i)) OVER (ORDER BY i
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
       |  FROM generate_series(1, $NGenes) t(i)),
       |lfv AS (SELECT list_prepend(0.0, list(s ORDER BY i)) AS arr
       |  FROM lfs),
       |en AS (SELECT ov.pathway, gene_count, pathway_size, list_size,
       |    $NGenes::BIGINT AS universe, arr
       |  FROM ov JOIN szs USING (pathway) CROSS JOIN ls CROSS JOIN lfv),
       |sc2 AS (SELECT pathway, gene_count, pathway_size, list_size, universe,
       |    round(least(list_sum(list_transform(
       |      generate_series(
      |        greatest(gene_count, pathway_size + list_size - universe),
      |        least(pathway_size, list_size)),
       |      i -> exp(arr[pathway_size+1] - arr[i+1] - arr[pathway_size-i+1]
       |        + arr[universe-pathway_size+1] - arr[list_size-i+1]
       |        - arr[universe-pathway_size-list_size+i+1]
       |        - (arr[universe+1] - arr[list_size+1]
       |           - arr[universe-list_size+1])))),
       |      1.0) + 0.000000001, 6) AS p_value,
       |    round((gene_count * (universe - pathway_size - list_size
       |        + gene_count))::DOUBLE
       |      / nullif(((pathway_size - gene_count)
       |        * (list_size - gene_count))::DOUBLE, 0.0)
       |      + 0.000000001, 6) AS odds_ratio
       |  FROM en),
       |tot2 AS (SELECT count(p_value)::BIGINT AS n_feat FROM sc2),
       |rk2 AS (SELECT sc2.*, tot2.n_feat,
       |    row_number() OVER (ORDER BY p_value ASC NULLS LAST, pathway)::BIGINT
       |      AS p_rank
       |  FROM sc2 CROSS JOIN tot2),
       |bh2 AS (SELECT *,
       |    CASE WHEN p_value IS NULL THEN NULL ELSE
       |      round(least(
       |        min(p_value * n_feat / p_rank) OVER (
       |          ORDER BY p_value DESC NULLS FIRST, pathway DESC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |        1.0) + 0.000000001, 6) END AS p_adj
       |  FROM rk2)
       |SELECT pathway, gene_count, pathway_size, list_size, universe,
       |  gene_count::VARCHAR || '/' || pathway_size::VARCHAR AS overlap,
       |  odds_ratio, p_value, p_adj
       |FROM bh2 ORDER BY p_adj ASC NULLS LAST, pathway""".stripMargin

  /* ---------------- deg_validate ---------------- */

  /** Validation-tier composed scoring over the DEG list
    * (agent4_validation.py:405/:432/:663): hub status from the
    * co-expression pipeline, synthetic known-database and cancer-type
    * gene sets (deterministic residue classes over the 40-gene
    * universe, standing in for the reference's static COSMIC/OncoKB
    * symbol sets), pathway membership degree, then the reference's
    * additive score + confidence ladder.
    */
  private def degValidate(s: SparkSession, d: String): DataFrame =
    Stats.validationScore(
      degListTop(s, d),
      Stats.hubFeatures(
        Stats.correlationEdges(normalized(s, d),
          "gene", "sample_id", "log2_cpm", MinAbsCorr),
        HubN).select(col("feature").as("gene")),
      s.range(NGenes).where(col("id") % 3 === 0)
        .select(col("id").as("gene")),
      s.range(NGenes).where(col("id") % 6 === 0)
        .select(col("id").as("gene")),
      membership(s, d),
      "gene", "pathway")
      .orderBy(col("gene"))

  private val degValidateSql =
    s"""WITH $degStatsCtes,
       |$degListCte,
       |$memCte,
       |$countMatrixSql,
       |$corrCtes,
       |$hubCtes,
       |pc AS (SELECT gene, count(*)::BIGINT AS pathway_count
       |  FROM mem GROUP BY gene),
       |dbg AS (SELECT i::BIGINT AS gene
       |  FROM generate_series(0, ${NGenes - 1}) t(i) WHERE i % 3 = 0),
       |cag AS (SELECT i::BIGINT AS gene
       |  FROM generate_series(0, ${NGenes - 1}) u(i) WHERE i % 6 = 0),
       |base AS (SELECT deg.gene,
       |    (hubq.gene IS NOT NULL) AS is_hub,
       |    (dbg.gene IS NOT NULL) AS db_matched,
       |    CASE WHEN dbg.gene IS NOT NULL THEN (cag.gene IS NOT NULL)
       |         ELSE NULL END AS cancer_type_match,
       |    coalesce(pc.pathway_count, 0)::BIGINT AS pathway_count
       |  FROM deg
       |  LEFT JOIN hubq ON deg.gene = hubq.gene
       |  LEFT JOIN dbg ON deg.gene = dbg.gene
       |  LEFT JOIN cag ON deg.gene = cag.gene
       |  LEFT JOIN pc ON deg.gene = pc.gene),
       |scored2 AS (SELECT *,
       |    (CASE WHEN is_hub THEN 2.0 ELSE 0.0 END
       |      + CASE WHEN db_matched THEN 2.0 ELSE 0.0 END
       |      + CASE WHEN cancer_type_match THEN 1.5 ELSE 0.0 END
       |      + CASE WHEN pathway_count >= 3 THEN 0.5 ELSE 0.0 END)
       |      AS interpretation_score
       |  FROM base)
       |SELECT gene, is_hub, db_matched, cancer_type_match, pathway_count,
       |  interpretation_score,
       |  CASE WHEN db_matched AND interpretation_score >= 5.0 THEN 'high'
       |       WHEN db_matched AND interpretation_score >= 3.0 THEN 'medium'
       |       WHEN NOT db_matched AND is_hub THEN 'novel_candidate'
       |       WHEN interpretation_score >= 1.5 THEN 'low'
       |       ELSE 'requires_validation' END AS confidence
       |FROM scored2 ORDER BY gene""".stripMargin

  /* ---------------- sc_markers ---------------- */

  private val ScClusters = 4
  private val ScIters = 2
  private val ScTopN = 10

  /** Single-cell marker surface (agent_singlecell.py:1658
    * _find_markers, deg_n_genes per cluster at :285): cells = the
    * embedding vectors, clusters = the deterministic spherical
    * k-means codebook (lloydCentroids, k=4, 2 iterations, seeded by
    * the 4 lowest vec_ids) plus one final nearest-centroid
    * assignment, features = embedding dimensions, one-vs-rest Welch
    * markers per cluster, top-10 by score. The oracle replays the
    * SAME restricted computation — the seeded k-means unrolled one
    * CTE block per assignment — like the IVF rows' restricted-exact
    * oracles.
    */
  /** Shared sc_* front end: deterministic spherical k-means cluster
    * assignment over the embedding cells, exploded to the long-form
    * (cluster, gene, v) matrix — gene = embedding dimension. Every
    * sc_* binding (markers, pseudobulk, annotate) chains off this so
    * the oracles all replay the ONE kmeansCtes assignment.
    */
  private def scLongMatrix(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = VectorSearch.lloydCentroids(
      emb, "vec_id", "embedding", ScClusters, ScIters)
    val assigned = VectorSearch.assignCells(
      emb, cents, "vec_id", "embedding", "cell")
    assigned
      .select(col("cell").cast("long").as("cluster"),
        posexplode(VectorFns.asDouble(col("embedding"))).as(Seq("gene", "v")))
      .select(col("cluster"), col("gene").cast("long").as("gene"), col("v"))
  }

  private def scMarkers(s: SparkSession, d: String): DataFrame =
    Stats.markerStats(scLongMatrix(s, d), "cluster", "gene", "v", ScTopN)
      .orderBy(col("cluster"), col("rnk"))

  /** One nearest-centroid assignment block over centroid CTE `cents`
    * (long form: cell, i, v): cosine against every centroid from the
    * shared per-vector norms `en`, rounded to 6dp like
    * VectorSearch.assignCells, max-cosine with ties to the smallest
    * cell (row_number DESC, cell).
    */
  private def assignSql(n: Int, cents: String): String =
    s"""cn$n AS (SELECT cell, sum(v * v) AS ns FROM $cents GROUP BY cell),
       |ad$n AS (SELECT evv.vec_id, c.cell, sum(evv.v * c.v) AS dot
       |  FROM evv JOIN $cents c ON evv.i = c.i GROUP BY 1, 2),
       |as$n AS (SELECT vec_id, cell FROM (
       |    SELECT a.vec_id, a.cell, row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY round(a.dot / nullif(sqrt(en.ns) * sqrt(cn$n.ns), 0.0), 6)
       |        DESC NULLS LAST, a.cell) AS rn
       |    FROM ad$n a JOIN en USING (vec_id) JOIN cn$n USING (cell))
       |  WHERE rn = 1)""".stripMargin

  /** Lloyd centroid-recompute block: new centroid c(n+1) = per-cell
    * dimension means of the vectors assigned in as(n) (the per-position
    * mean centroidArrays computes, equal up to last-bit rounding).
    */
  private def meanSql(n: Int): String =
    s"""c${n + 1} AS (SELECT a.cell, evv.i, avg(evv.v) AS v
       |  FROM as$n a JOIN evv USING (vec_id) GROUP BY 1, 2)""".stripMargin

  /** The seeded k-means chain (unrolled one CTE block per
    * assignment), ending at `as2` = the final (vec_id, cell)
    * assignment — shared by every sc_* oracle that replays the
    * cluster assignment (sc_markers, sc_pseudobulk, sc_annotate).
    */
  private val kmeansCtes =
    s"""ev AS (SELECT vec_id, embedding,
       |    unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
       |evv AS (SELECT vec_id, i, embedding[i]::DOUBLE AS v FROM ev),
       |en AS (SELECT vec_id, sum(v * v) AS ns FROM evv GROUP BY vec_id),
       |seed AS (SELECT vec_id,
       |    (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cell
       |  FROM embeddings ORDER BY vec_id LIMIT $ScClusters),
       |c0 AS (SELECT s.cell, evv.i, evv.v FROM seed s JOIN evv USING (vec_id)),
       |${assignSql(0, "c0")},
       |${meanSql(0)},
       |${assignSql(1, "c1")},
       |${meanSql(1)},
       |${assignSql(2, "c2")}""".stripMargin

  /** The marker-stats replay chain (lm → … → fin) over the final
    * assignment `as2` — ends at `fin(cluster, gene, score,
    * logfoldchange, pval, pval_adj, rnk)`; shared by sc_markers and
    * sc_annotate (which re-ranks the same top markers against a
    * signature panel).
    */
  private val markerCtes =
    s"""lm AS (SELECT a.cell::BIGINT AS cluster, (evv.i - 1)::BIGINT AS gene,
       |    evv.v AS v
       |  FROM as2 a JOIN evv USING (vec_id)),
       |g AS (SELECT cluster, gene, count(v)::DOUBLE AS n_in, sum(v) AS s_in,
       |    sum(v * v) AS ss_in
       |  FROM lm GROUP BY 1, 2),
       |tg AS (SELECT gene, sum(n_in) AS n_all, sum(s_in) AS s_all,
       |    sum(ss_in) AS ss_all
       |  FROM g GROUP BY gene),
       |jx AS (SELECT g.cluster, g.gene, g.n_in, g.s_in, g.ss_in,
       |    tg.n_all - g.n_in AS n_out, tg.s_all - g.s_in AS s_out,
       |    tg.ss_all - g.ss_in AS ss_out
       |  FROM g JOIN tg USING (gene)),
       |st AS (SELECT cluster, gene, n_in, n_out,
       |    s_in / nullif(n_in, 0.0) AS mean_in,
       |    s_out / nullif(n_out, 0.0) AS mean_out,
       |    (ss_in - s_in * s_in / nullif(n_in, 0.0))
       |      / nullif(n_in - 1.0, 0.0) AS var_in,
       |    (ss_out - s_out * s_out / nullif(n_out, 0.0))
       |      / nullif(n_out - 1.0, 0.0) AS var_out
       |  FROM jx),
       |tv AS (SELECT cluster, gene, mean_in, mean_out,
       |    (mean_in - mean_out)
       |      / nullif(sqrt(var_in / n_in + var_out / n_out), 0.0) AS t
       |  FROM st),
       |px2 AS (SELECT *, abs(t) / sqrt(2.0) AS x FROM tv),
       |pt2 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM px2),
       |scm AS (SELECT cluster, gene,
       |    round(t + 0.000000001, 6) AS score,
       |    (CASE WHEN round(mean_in + 0.000000001, 6) > -1.0
       |        AND round(mean_out + 0.000000001, 6) > -1.0 THEN
       |      round(ln(mean_in + 1.0) / ln(2.0) - ln(mean_out + 1.0) / ln(2.0)
       |        + 0.000000001, 6) END) AS logfoldchange,
       |    round($pSql + 0.000000001, 6) AS p_value
       |  FROM pt2),
       |rk3 AS (SELECT *, count(p_value) OVER (PARTITION BY cluster)::BIGINT AS n_feat,
       |    row_number() OVER (PARTITION BY cluster
       |      ORDER BY p_value ASC NULLS LAST, gene)::BIGINT AS p_rank
       |  FROM scm),
       |bh3 AS (SELECT *, CASE WHEN p_value IS NULL THEN NULL ELSE
       |    round(least(min(p_value * n_feat / p_rank) OVER (PARTITION BY cluster
       |      ORDER BY p_value DESC NULLS FIRST, gene DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0)
       |      + 0.000000001, 6) END AS p_adj
       |  FROM rk3),
       |fin AS (SELECT cluster, gene, score, logfoldchange, p_value AS pval,
       |    p_adj AS pval_adj,
       |    row_number() OVER (PARTITION BY cluster
       |      ORDER BY score DESC NULLS LAST, gene)::BIGINT AS rnk
       |  FROM bh3)""".stripMargin

  private val scMarkersSql =
    s"""WITH $kmeansCtes,
       |$markerCtes
       |SELECT cluster, gene, score, logfoldchange, pval, pval_adj, rnk
       |FROM fin WHERE rnk <= $ScTopN ORDER BY cluster, rnk""".stripMargin

  /* ---------------- sc_qc ---------------- */

  private val QcCells = 2000
  private val QcGenes = 60
  private val QcMitoGenes = 5

  /** Single-cell QC binding (agent_singlecell.py:384 _qc_filtering):
    * cells = l_orderkey mod 2000, genes = l_partkey mod 60 with the
    * first 5 carrying the reference's 'MT-' name prefix (:392
    * var_names.str.startswith('MT-')), molecule counts = quantity.
    * Thresholds are tuned so every status bucket is non-empty at
    * sf0.01 (min_counts=500 as the reference's default at :424;
    * min_genes=15 / max_genes=33 / max_mito=20% scaled to the
    * synthetic matrix's gene panel). Output = per-cell metrics +
    * first-failing-filter status, the reference's qc_stats audit in
    * relational form.
    */
  /** The synthetic molecule matrix shared by sc_qc and sc_hvg. */
  private def qcMatrix(s: SparkSession, d: String): DataFrame = {
    val gid = pmod(col("l_partkey"), lit(QcGenes))
    Tables.lineitem(s, d).select(
      pmod(col("l_orderkey"), lit(QcCells)).cast("long").as("cell_id"),
      concat(
        when(gid < QcMitoGenes, lit("MT-")).otherwise(lit("G")),
        gid.cast("string")).as("gene"),
      col("l_quantity").cast("double").as("cnt"))
  }

  private def scQc(s: SparkSession, d: String): DataFrame =
    SingleCell.qcFilter(
      SingleCell.qcMetrics(qcMatrix(s, d), "cell_id", "gene", "cnt"),
      SingleCell.QcThresholds(
        minCounts = 500.0, minGenes = 15L, maxGenes = 33L,
        maxMitoPct = 20.0))
      .orderBy(col("cell_id"))

  /** The matrix + sparse-entry CTEs shared by scQcSql and scHvgSql. */
  private val scMatrixCtes =
    s"""m AS (SELECT (l_orderkey % $QcCells)::BIGINT AS cell_id,
       |    (CASE WHEN l_partkey % $QcGenes < $QcMitoGenes THEN 'MT-'
       |          ELSE 'G' END) || (l_partkey % $QcGenes)::VARCHAR AS gene,
       |    l_quantity::DOUBLE AS cnt
       |  FROM lineitem),
       |e AS (SELECT cell_id, gene, sum(cnt)::DOUBLE AS cnt
       |  FROM m GROUP BY cell_id, gene)""".stripMargin

  private val scQcSql =
    s"""WITH $scMatrixCtes,
       |pc AS (SELECT cell_id,
       |    count(CASE WHEN cnt > 0 THEN 1 END)::BIGINT AS n_genes,
       |    sum(cnt)::DOUBLE AS total_counts,
       |    round(sum(CASE WHEN gene LIKE 'MT-%' OR gene LIKE 'mt-%'
       |        THEN cnt ELSE 0.0 END)
       |      * 100.0 / sum(cnt)::DOUBLE + 0.000000001, 6) AS pct_mt
       |  FROM e GROUP BY cell_id)
       |SELECT cell_id, n_genes, total_counts, pct_mt,
       |  CASE WHEN total_counts < 500.0 THEN 'empty_droplet'
       |       WHEN n_genes < 15 THEN 'low_genes'
       |       WHEN n_genes >= 33 THEN 'high_genes'
       |       WHEN pct_mt >= 20.0 THEN 'high_mito'
       |       ELSE 'kept' END AS status
       |FROM pc ORDER BY cell_id""".stripMargin

  /* ---------------- sc_pseudobulk ---------------- */

  /** Pseudobulk DEG (agent_singlecell.py:1838 _generate_pseudobulk):
    * the cluster assignment → per-cluster summed counts → CPM
    * (TPM-like) profile → differential stats, chained in ONE plan.
    * Synthetic molecule counts = embedding value + 1 (nonnegative —
    * dims sit in (−1, 1) — so cluster library sizes are positive and
    * the CPM ratio is well-defined); cohorts = even vs odd cluster
    * ids over the CPM profile, the 2-samples-per-arm pseudobulk
    * regime the reference's downstream DEG consumes. The oracle
    * replays assignment (kmeansCtes), pseudobulk, and the shared
    * diffCtes chain textually.
    */
  private def scPseudobulk(s: SparkSession, d: String): DataFrame = {
    val long = scLongMatrix(s, d)
      .select(col("cluster"), col("gene"), (col("v") + lit(1.0)).as("cnt"))
    val pb = SingleCell.pseudobulk(long, "cluster", "gene", "cnt")
    val cohorts = pb.withColumn("cohort",
      when(pmod(col("cluster"), lit(2)) === 0, lit("even"))
        .otherwise(lit("odd")))
    Stats.diffStats(cohorts, "gene", "cohort", "cpm", "even", "odd")
      .orderBy(col("gene"))
  }

  private val scPseudobulkSql =
    s"""WITH $kmeansCtes,
       |lm AS (SELECT a.cell::BIGINT AS cluster, (evv.i - 1)::BIGINT AS gene,
       |    evv.v + 1.0 AS cnt
       |  FROM as2 a JOIN evv USING (vec_id)),
       |pb AS (SELECT cluster, gene, sum(cnt)::DOUBLE AS pb_count
       |  FROM lm GROUP BY 1, 2),
       |lib AS (SELECT cluster, sum(pb_count)::DOUBLE AS lib_size
       |  FROM pb GROUP BY cluster),
       |cp AS (SELECT pb.cluster, pb.gene,
       |    coalesce(round(pb.pb_count / nullif(lib.lib_size, 0.0) * 1000000.0
       |      + 0.000000001, 6), 0.0) AS cpm
       |  FROM pb JOIN lib ON pb.cluster = lib.cluster),
       |sm AS (SELECT gene,
       |    CASE WHEN cluster % 2 = 0 THEN 'even' ELSE 'odd' END AS cohort,
       |    cpm AS v
       |  FROM cp),
       |${diffCtes("even", "odd")}
       |SELECT gene, n_a, n_b, mean_a, mean_b, log2_fc, t_stat, p_value, p_adj
       |FROM bh ORDER BY gene""".stripMargin

  /* ---------------- sc_annotate ---------------- */

  private val SigTypes = 4

  /** Marker-based cluster annotation (agent_singlecell.py:1181
    * _annotate_clusters_by_markers, scoring at :1597-1643): the
    * sc_markers top-$ScTopN ranked markers per cluster matched
    * against a deterministic signature panel — cell type t ∈
    * 0..${SigTypes − 1} owns the genes with gene % $SigTypes == t
    * (the residue-class panel device deg_validate uses) — scored
    * with the reference's position weights ((listLen − idx)/listLen),
    * ×(1 + 0.2·overlap) bonus, min-score threshold with the
    * Unknown_<cluster> fallback, and duplicate-name _2/_3 suffixes in
    * cluster order. listLen = $ScTopN (the whole marker list is
    * inside the reference's top-30 match window).
    */
  private def scAnnotate(s: SparkSession, d: String): DataFrame = {
    val markers = Stats.markerStats(
      scLongMatrix(s, d), "cluster", "gene", "v", ScTopN)
    val sigs = s.range(0, 64).select(
      concat(lit("type_"), pmod(col("id"), lit(SigTypes)).cast("string"))
        .as("cell_type"),
      col("id").as("gene"))
    SingleCell.annotateClusters(markers, "cluster", "gene", "rnk", sigs,
      listLen = ScTopN, minScore = 1.0)
      .orderBy(col("cluster"))
  }

  private val scAnnotateSql =
    s"""WITH $kmeansCtes,
       |$markerCtes,
       |mk AS (SELECT cluster, gene, rnk FROM fin WHERE rnk <= $ScTopN),
       |sg AS (SELECT 'type_' || (g % $SigTypes)::VARCHAR AS cell_type,
       |    g::BIGINT AS gene
       |  FROM (SELECT unnest(generate_series(0, 63)) AS g)),
       |ov AS (SELECT m.cluster, s.cell_type,
       |    sum(($ScTopN - (m.rnk - 1)::DOUBLE) / $ScTopN.0) AS raw_w,
       |    count(*)::BIGINT AS n_overlap
       |  FROM mk m JOIN sg s ON m.gene = s.gene GROUP BY 1, 2),
       |scx AS (SELECT cluster, cell_type, n_overlap,
       |    round(raw_w * (1.0 + 0.2 * n_overlap) + 0.000000001, 6) AS score
       |  FROM ov),
       |best AS (SELECT cluster, cell_type, score, n_overlap FROM (
       |    SELECT *, row_number() OVER (PARTITION BY cluster
       |      ORDER BY score DESC, cell_type) AS rn FROM scx)
       |  WHERE rn = 1),
       |allc AS (SELECT DISTINCT cluster FROM mk),
       |lab AS (SELECT a.cluster,
       |    CASE WHEN b.score > 1.0 THEN b.cell_type
       |         ELSE 'Unknown_' || a.cluster::VARCHAR END AS base_type,
       |    b.score, b.n_overlap
       |  FROM allc a LEFT JOIN best b ON a.cluster = b.cluster),
       |dup AS (SELECT *, row_number() OVER (PARTITION BY base_type
       |    ORDER BY cluster) AS dup_rn
       |  FROM lab)
       |SELECT cluster,
       |  CASE WHEN dup_rn = 1 THEN base_type
       |       ELSE base_type || '_' || dup_rn::VARCHAR END AS cell_type,
       |  CASE WHEN score > 1.0 THEN score ELSE 0.0 END AS score,
       |  coalesce(n_overlap, 0)::BIGINT AS n_overlap
       |FROM dup ORDER BY cluster""".stripMargin

  /* ---------------- sc_hvg ---------------- */

  private val HvgBins = 10
  private val HvgTopN = 20

  /** Highly-variable gene selection (agent_singlecell.py:835
    * _select_hvg — sc.pp.highly_variable_genes, seurat flavor) over
    * the sc_qc molecule matrix: log-normalized per-gene mean +
    * dispersion, z-normalized within $HvgBins equal-width mean bins,
    * top-$HvgTopN by normalized dispersion. The oracle replays the
    * sparse-moment arithmetic textually (missing entries contribute
    * ln(1+0)=0, so the dense-universe moments come from sparse sums
    * plus the scalar cell count on both engines).
    */
  private def scHvg(s: SparkSession, d: String): DataFrame =
    SingleCell.hvg(qcMatrix(s, d), "cell_id", "gene", "cnt",
      nBins = HvgBins, topN = HvgTopN)

  private val scHvgSql =
    s"""WITH $scMatrixCtes,
       |ct AS (SELECT cell_id, sum(cnt)::DOUBLE AS cell_total
       |  FROM e GROUP BY cell_id),
       |nc AS (SELECT count(*)::DOUBLE AS n_cells FROM ct),
       |ex AS (SELECT e.gene, ln(1.0 + e.cnt * 10000.0 / ct.cell_total) AS x
       |  FROM e JOIN ct ON e.cell_id = ct.cell_id),
       |gs AS (SELECT gene, sum(x)::DOUBLE AS s, sum(x * x)::DOUBLE AS ss
       |  FROM ex GROUP BY gene),
       |st0 AS (SELECT gene,
       |    round(s / n_cells + 0.000000001, 6) AS mu,
       |    round(((ss - s * s / n_cells) / nullif(n_cells - 1.0, 0.0))
       |      / nullif(s / n_cells, 0.0) + 0.000000001, 6) AS disp
       |  FROM gs CROSS JOIN nc),
       |st AS (SELECT * FROM st0 WHERE disp IS NOT NULL),
       |bi AS (SELECT gene, mu, disp,
       |    coalesce(least(${HvgBins - 1}::BIGINT,
       |      floor((mu - min(mu) OVER ())
       |        / nullif(max(mu) OVER () - min(mu) OVER (), 0.0)
       |        * $HvgBins)::BIGINT), 0::BIGINT) AS bin
       |  FROM st),
       |bs AS (SELECT *,
       |    (count(*) OVER (PARTITION BY bin))::DOUBLE AS nb,
       |    sum(disp) OVER (PARTITION BY bin)::DOUBLE AS sb,
       |    sum(disp * disp) OVER (PARTITION BY bin)::DOUBLE AS ssb
       |  FROM bi),
       |nd AS (SELECT gene, mu, disp,
       |    round((disp - sb / nb) / nullif(sqrt(greatest(
       |      (ssb - sb * sb / nb) / nullif(nb - 1.0, 0.0), 0.0)), 0.0)
       |      + 0.000000001, 6) AS disp_norm
       |  FROM bs),
       |fin AS (SELECT gene, mu, disp, disp_norm,
       |    row_number() OVER (ORDER BY disp_norm DESC, gene)::BIGINT AS rnk
       |  FROM nd WHERE disp_norm IS NOT NULL)
       |SELECT gene, mu, disp, disp_norm, rnk FROM fin
       |WHERE rnk <= $HvgTopN ORDER BY rnk""".stripMargin

  /* ---------------- sc_cellcycle ---------------- */

  private val CcSGenes = (10 to 19).map(i => s"G$i")
  private val CcG2mGenes = (20 to 29).map(i => s"G$i")

  /** Cell-cycle phase scoring (agent_singlecell.py:768
    * _score_cell_cycle, enabled by default at :247): the shared QC
    * molecule matrix scored against deterministic stand-ins for the
    * Tirosh S / G2M gene sets — S = G10..G19, G2M = G20..G29 — with
    * scanpy's rank-binned background controls (deterministic full-bin
    * variant, see SingleCell.cellCycleScores) and the S/G2M/G1 phase
    * call on the rounded scores.
    */
  private def scCellcycle(s: SparkSession, d: String): DataFrame =
    SingleCell.cellCycleScores(qcMatrix(s, d), "cell_id", "gene", "cnt",
      CcSGenes, CcG2mGenes)
      .orderBy(col("cell_id"))

  private def sqlInList(gs: Seq[String]): String =
    gs.map(g => s"'$g'").mkString("(", ", ", ")")

  private val scCellcycleSql =
    s"""WITH $scMatrixCtes,
       |ct AS (SELECT cell_id, sum(cnt)::DOUBLE AS cell_total
       |  FROM e GROUP BY cell_id),
       |ncc AS (SELECT count(*)::DOUBLE AS n_cells FROM ct),
       |ex AS (SELECT e.cell_id, e.gene,
       |    ln(1.0 + e.cnt * 10000.0 / ct.cell_total) AS x
       |  FROM e JOIN ct ON e.cell_id = ct.cell_id),
       |gm AS (SELECT gene, round(sum(x)::DOUBLE / n_cells
       |      + 0.000000001, 6) AS mu
       |  FROM ex, ncc GROUP BY gene, n_cells),
       |bi AS (SELECT gene,
       |    floor(rank() OVER (ORDER BY mu)::DOUBLE / greatest(1.0,
       |      floor((count(*) OVER ())::DOUBLE / 24.0))) AS bin,
       |    gene IN ${sqlInList(CcSGenes)} AS in_s,
       |    gene IN ${sqlInList(CcG2mGenes)} AS in_g2m
       |  FROM gm),
       |fl AS (SELECT gene, in_s, in_g2m,
       |    (max(CASE WHEN in_s THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY bin) = 1) AND NOT in_s AS ctrl_s,
       |    (max(CASE WHEN in_g2m THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY bin) = 1) AND NOT in_g2m AS ctrl_g2m
       |  FROM bi),
       |sz AS (SELECT sum(CASE WHEN in_s THEN 1.0 ELSE 0.0 END) AS n_s,
       |    sum(CASE WHEN ctrl_s THEN 1.0 ELSE 0.0 END) AS n_cs,
       |    sum(CASE WHEN in_g2m THEN 1.0 ELSE 0.0 END) AS n_g2m,
       |    sum(CASE WHEN ctrl_g2m THEN 1.0 ELSE 0.0 END) AS n_cg
       |  FROM fl),
       |cs AS (SELECT ex.cell_id,
       |    sum(CASE WHEN fl.in_s THEN ex.x ELSE 0.0 END)::DOUBLE AS xs,
       |    sum(CASE WHEN fl.ctrl_s THEN ex.x ELSE 0.0 END)::DOUBLE AS xcs,
       |    sum(CASE WHEN fl.in_g2m THEN ex.x ELSE 0.0 END)::DOUBLE AS xg,
       |    sum(CASE WHEN fl.ctrl_g2m THEN ex.x ELSE 0.0 END)::DOUBLE AS xcg
       |  FROM ex JOIN fl ON ex.gene = fl.gene GROUP BY ex.cell_id),
       |scc AS (SELECT cell_id,
       |    round(xs / nullif(n_s, 0.0) - xcs / nullif(n_cs, 0.0)
       |      + 0.000000001, 6) AS s_score,
       |    round(xg / nullif(n_g2m, 0.0) - xcg / nullif(n_cg, 0.0)
       |      + 0.000000001, 6) AS g2m_score
       |  FROM cs, sz)
       |SELECT cell_id, s_score, g2m_score,
       |  CASE WHEN s_score IS NULL OR g2m_score IS NULL THEN NULL
       |       WHEN s_score < 0 AND g2m_score < 0 THEN 'G1'
       |       WHEN g2m_score > s_score THEN 'G2M'
       |       ELSE 'S' END AS phase
       |FROM scc ORDER BY cell_id""".stripMargin

  /* ---------------- sc_interactions ---------------- */

  private val LrPairs = 12
  private val LrClusters = 6

  /** Ligand-receptor interaction scoring (agent_singlecell.py:2311
    * _run_simple_lr_analysis): cell types = cell_id mod $LrClusters
    * over the log-normalized QC matrix; the curated L-R database
    * stands in as $LrPairs deterministic pairs (ligand G(5+2i) →
    * receptor G(6+2i)) with cycled category/function metadata.
    * score = √(ligand·receptor mean), specificity against the
    * all-type background mean, both sides ≥ the reference's 0.1
    * mean-expression floor (:2504,2509).
    */
  /** The log-normalized (cell_id, gene, x) expression frame shared by
    * sc_interactions and sc_ploidy — scanpy normalize_total + log1p
    * over the QC molecule matrix (same transform sc_hvg and
    * sc_cellcycle apply internally).
    */
  private def scLogEx(s: SparkSession, d: String): DataFrame = {
    val entry = qcMatrix(s, d)
      .groupBy(col("cell_id"), col("gene"))
      .agg(sum(col("cnt")).as("cnt"))
    val totals = entry.groupBy(col("cell_id"))
      .agg(sum(col("cnt")).as("cell_total"))
    entry.join(totals, Seq("cell_id"))
      .select(col("cell_id"), col("gene"),
        log(lit(1.0) + col("cnt") * lit(1e4) / col("cell_total")).as("x"))
  }

  private def scInteractions(s: SparkSession, d: String): DataFrame = {
    val ex = scLogEx(s, d)
      .select(pmod(col("cell_id"), lit(LrClusters)).cast("long")
        .as("cluster"),
        col("cell_id"), col("gene"), col("x"))
    val cat = pmod(col("id"), lit(3))
    val pairs = s.range(0, LrPairs).select(
      concat(lit("G"), (lit(5) + col("id") * 2).cast("string"))
        .as("ligand"),
      concat(lit("G"), (lit(6) + col("id") * 2).cast("string"))
        .as("receptor"),
      concat(lit("G"), (lit(5) + col("id") * 2).cast("string"), lit("_G"),
        (lit(6) + col("id") * 2).cast("string")).as("pair_name"),
      when(cat === 0, lit("checkpoint"))
        .when(cat === 1, lit("growth_factor"))
        .otherwise(lit("chemokine")).as("category"),
      when(cat === 0, lit("inhibitory"))
        .when(cat === 1, lit("proliferation"))
        .otherwise(lit("homing")).as("lr_function"))
    SingleCell.ligandReceptor(ex, "cluster", "cell_id", "gene", "x",
      pairs, minExpr = 0.1)
      .orderBy(col("score").desc, col("source"), col("target"),
        col("ligand"), col("receptor"))
  }

  private val scInteractionsSql =
    s"""WITH $scMatrixCtes,
       |ct AS (SELECT cell_id, sum(cnt)::DOUBLE AS cell_total
       |  FROM e GROUP BY cell_id),
       |ex AS (SELECT (e.cell_id % $LrClusters)::BIGINT AS cluster,
       |    e.cell_id, e.gene,
       |    ln(1.0 + e.cnt * 10000.0 / ct.cell_total) AS x
       |  FROM e JOIN ct ON e.cell_id = ct.cell_id),
       |ncl AS (SELECT cluster, count(DISTINCT cell_id)::DOUBLE AS n_cells
       |  FROM ex GROUP BY cluster),
       |nt AS (SELECT count(*)::DOUBLE AS n_types FROM ncl),
       |cm AS (SELECT x.cluster, x.gene,
       |    round(sum(x.x)::DOUBLE / ncl.n_cells + 0.000000001, 6)
       |      AS mean_expr
       |  FROM ex x JOIN ncl USING (cluster)
       |  GROUP BY x.cluster, x.gene, ncl.n_cells),
       |am AS (SELECT gene, sum(mean_expr)::DOUBLE / n_types AS all_mean
       |  FROM cm, nt GROUP BY gene, n_types),
       |lg AS (SELECT cluster AS source, gene AS ligand,
       |    mean_expr AS ligand_expr FROM cm WHERE mean_expr >= 0.1),
       |rc AS (SELECT cluster AS target, gene AS receptor,
       |    mean_expr AS receptor_expr FROM cm WHERE mean_expr >= 0.1),
       |pr AS (SELECT 'G' || (5 + i * 2)::VARCHAR AS ligand,
       |    'G' || (6 + i * 2)::VARCHAR AS receptor,
       |    'G' || (5 + i * 2)::VARCHAR || '_G' || (6 + i * 2)::VARCHAR
       |      AS pair_name,
       |    CASE WHEN i % 3 = 0 THEN 'checkpoint'
       |         WHEN i % 3 = 1 THEN 'growth_factor'
       |         ELSE 'chemokine' END AS category,
       |    CASE WHEN i % 3 = 0 THEN 'inhibitory'
       |         WHEN i % 3 = 1 THEN 'proliferation'
       |         ELSE 'homing' END AS lr_function
       |  FROM (SELECT unnest(generate_series(0, ${LrPairs - 1})) AS i))
       |SELECT lg.source, rc.target, pr.ligand, pr.receptor, pr.pair_name,
       |  pr.category, pr.lr_function, lg.ligand_expr, rc.receptor_expr,
       |  round(sqrt(lg.ligand_expr * rc.receptor_expr)
       |    + 0.000000001, 6) AS score,
       |  round(sqrt(lg.ligand_expr * rc.receptor_expr)
       |    / (sqrt(al.all_mean * ar.all_mean) + 0.01)
       |    + 0.000000001, 6) AS specificity
       |FROM pr
       |JOIN lg ON lg.ligand = pr.ligand
       |JOIN rc ON rc.receptor = pr.receptor
       |JOIN am al ON al.gene = pr.ligand
       |JOIN am ar ON ar.gene = pr.receptor
       |ORDER BY score DESC, lg.source, rc.target, pr.ligand,
       |  pr.receptor""".stripMargin

  /* ---------------- sc_ploidy ---------------- */

  private val PloidyChroms = 8
  private val PloidyTypes = 5

  /** Ploidy inference (agent_singlecell.py:2908 _infer_ploidy): the
    * chromosome panel stands in as genes G5..G44 assigned round-robin
    * to $PloidyChroms chroms ($PloidyChroms × 5 genes, each ≥ the
    * reference's 2-gene minimum at :2975); the diploid reference
    * population = cells with cell_id % 4 == 0 (the reference's
    * ≥50-immune-cells branch at :2961 — 500 cells at sf0.01); cell
    * types = cell_id mod $PloidyTypes. Output = the reference's
    * ploidy_by_celltype.csv shape.
    */
  private def scPloidy(s: SparkSession, d: String): DataFrame = {
    // NOT cached (measured twice, r21): the lognorm matrix feeds ~7
    // consumers, but they execute as independent broadcast subtrees
    // in parallel (the grnEdges precedent). cache() here measured
    // 9.7→33 s/rep under un-coalesced cached-plan partitioning, and a
    // wash (3.2-3.4 s vs 3.4 s) even after
    // canChangeCachedPlanOutputPartitioning — the fill barrier costs
    // what the saved replays buy back.
    val ex = scLogEx(s, d)
    val panel = s.range(5, 45).select(
      concat(lit("chr"), pmod(col("id") - 5, lit(PloidyChroms))
        .cast("string")).as("chrom"),
      concat(lit("G"), col("id").cast("string")).as("gene"))
    val types = ex.select(col("cell_id")).distinct()
      .select(col("cell_id"),
        concat(lit("ct"), pmod(col("cell_id"), lit(PloidyTypes))
          .cast("string")).as("cell_type"))
    val refs = ex.where(pmod(col("cell_id"), lit(4)) === 0)
      .select(col("cell_id")).distinct()
    SingleCell.inferPloidy(ex, "cell_id", "gene", "x", types, panel, refs)
      .orderBy(col("cell_type"))
  }

  /** The lognorm CTEs shared by sc_ploidy and sc_interactions. */
  private val scLogExCtes =
    s"""ct AS (SELECT cell_id, sum(cnt)::DOUBLE AS cell_total
       |  FROM e GROUP BY cell_id),
       |ex AS (SELECT e.cell_id, e.gene,
       |    ln(1.0 + e.cnt * 10000.0 / ct.cell_total) AS x
       |  FROM e JOIN ct ON e.cell_id = ct.cell_id)""".stripMargin

  private val scPloidySql =
    s"""WITH $scMatrixCtes,
       |$scLogExCtes,
       |pan AS (SELECT 'chr' || ((g - 5) % $PloidyChroms)::VARCHAR AS chrom,
       |    'G' || g::VARCHAR AS gene
       |  FROM (SELECT unnest(generate_series(5, 44)) AS g)),
       |exp2 AS (SELECT ex.cell_id, p.chrom, ex.gene, ex.x
       |  FROM ex JOIN pan p USING (gene)),
       |nr AS (SELECT count(DISTINCT cell_id)::DOUBLE AS n_ref
       |  FROM ex WHERE cell_id % 4 = 0),
       |pang AS (SELECT p.chrom, p.gene FROM pan p
       |  JOIN (SELECT DISTINCT gene FROM ex) u USING (gene)),
       |gs0 AS (SELECT x2.chrom, x2.gene, sum(x2.x)::DOUBLE AS s,
       |    sum(x2.x * x2.x)::DOUBLE AS ss
       |  FROM exp2 x2 WHERE x2.cell_id % 4 = 0
       |  GROUP BY x2.chrom, x2.gene),
       |gs AS (SELECT pg.chrom, pg.gene,
       |    round(coalesce(gs0.s, 0.0) / n_ref + 0.000000001, 6) AS mu,
       |    round(sqrt(greatest(coalesce(gs0.ss, 0.0) / n_ref
       |        - (coalesce(gs0.s, 0.0) / n_ref) ^ 2, 0.0)) + 0.000001
       |      + 0.000000001, 6) AS sd
       |  FROM pang pg LEFT JOIN gs0 ON gs0.chrom = pg.chrom
       |    AND gs0.gene = pg.gene CROSS JOIN nr),
       |cc AS (SELECT chrom, round(sum(mu / sd) + 0.000000001, 6) AS z0_sum,
       |    count(*)::DOUBLE AS n_genes
       |  FROM gs GROUP BY chrom),
       |co AS (SELECT x2.cell_id, x2.chrom,
       |    round(sum(abs((x2.x - g.mu) / g.sd) - g.mu / g.sd)
       |      + 0.000000001, 6) AS dsum
       |  FROM exp2 x2 JOIN gs g ON x2.gene = g.gene
       |  GROUP BY x2.cell_id, x2.chrom),
       |cl AS (SELECT DISTINCT cell_id FROM ex),
       |cs2 AS (SELECT c.cell_id, k.chrom,
       |    round((coalesce(co.dsum, 0.0) + k.z0_sum) / k.n_genes
       |      + 0.000000001, 6) AS chr_score
       |  FROM cl c CROSS JOIN cc k
       |  LEFT JOIN co ON co.cell_id = c.cell_id AND co.chrom = k.chrom),
       |pc AS (SELECT cell_id,
       |    round(avg(chr_score) + 0.000000001, 6) AS ploidy_score,
       |    round(stddev_pop(chr_score) + 0.000000001, 6) AS cin_score
       |  FROM cs2 GROUP BY cell_id),
       |th AS (SELECT
       |    round(quantile_cont(ploidy_score, 0.75) + 0.000000001, 6) AS q75,
       |    round(quantile_cont(ploidy_score, 0.90) + 0.000000001, 6) AS q90
       |  FROM pc),
       |lb AS (SELECT pc.cell_id, pc.ploidy_score, pc.cin_score,
       |    CASE WHEN pc.ploidy_score > th.q90 THEN 'High_Confidence_Malignant'
       |         WHEN pc.ploidy_score > th.q75 THEN 'Likely_Malignant'
       |         ELSE 'Likely_Normal' END AS malignancy
       |  FROM pc, th)
       |SELECT 'ct' || (cell_id % $PloidyTypes)::VARCHAR AS cell_type,
       |  round(avg(ploidy_score) + 0.000000001, 6) AS ploidy_score,
       |  round(stddev_samp(ploidy_score) + 0.000000001, 6) AS ploidy_std,
       |  round(avg(cin_score) + 0.000000001, 6) AS cin_score,
       |  sum(CASE WHEN malignancy <> 'Likely_Normal' THEN 1 ELSE 0 END)::BIGINT
       |    AS n_malignant,
       |  count(*)::BIGINT AS n_total,
       |  round(sum(CASE WHEN malignancy <> 'Likely_Normal' THEN 1.0
       |      ELSE 0.0 END) / count(*) * 100.0 + 0.000000001, 6)
       |    AS pct_malignant
       |FROM lb GROUP BY cell_id % $PloidyTypes
       |ORDER BY cell_type""".stripMargin

  /* ---------------- sc_tme / sc_tme_comp ---------------- */

  /** Realistic cell-type names keyed by cell_id residue so the TME
    * prefix/regex machinery (immune lists, CD8|NK cytotoxic match)
    * exercises for real — 4 immune types (50% → the 'Hot' branch),
    * 2 stromal, 1 epithelial, 1 immunosuppressive.
    */
  private val TmeTypeNames = Seq(
    "T_cells", "NK_cells", "B_cells", "Macrophages",
    "Fibroblasts", "Endothelial", "Epithelial", "Treg")

  private def tmeTypes(s: SparkSession, d: String): DataFrame = {
    val name = TmeTypeNames.zipWithIndex.foldRight(lit("")) {
      case ((n, i), rest) =>
        when(pmod(col("cell_id"), lit(TmeTypeNames.size)) === i, lit(n))
          .otherwise(rest)
    }
    qcMatrix(s, d).select(col("cell_id")).distinct()
      .select(col("cell_id"), name.as("cell_type"))
  }

  private val TmeSets: Seq[(String, Seq[String])] = Seq(
    "T_cell_activation" -> (5 to 10).map(i => s"G$i"),
    "Cytotoxic_activity" -> (12 to 17).map(i => s"G$i"),
    "Hypoxia" -> Seq("G20", "G22", "G24", "G26"),
    // one present gene — below the reference's 2-gene minimum, so
    // this signature must drop out entirely
    "Rare_sig" -> Seq("G58", "G61"))

  /** TME immune-signature scores by cell type
    * (agent_singlecell.py:2640-2656: sc.tl.score_genes per signature,
    * ≥2 present genes, then the per-cell-type score means the
    * reference reports as signature_scores): deterministic stand-in
    * signatures over the QC matrix; Rare_sig (1 present gene) must
    * vanish like the reference's skipped signatures.
    */
  private def scTme(s: SparkSession, d: String): DataFrame =
    SingleCell.signatureScores(qcMatrix(s, d), "cell_id", "gene", "cnt",
      TmeSets)
      .where(col("score").isNotNull)
      .join(tmeTypes(s, d), Seq("cell_id"))
      .groupBy(col("cell_type"), col("signature"))
      .agg(round(avg(col("score")) + lit(1e-9), 6).as("mean_score"),
        count(lit(1)).as("n_cells"))
      .orderBy(col("cell_type"), col("signature"))

  /** The reference's TME category / immune / stromal prefix panels
    * (agent_singlecell.py:2615) — declared ONCE and interpolated into
    * both the Spark binding and the SQL oracle, like every other
    * shared panel, so the two sides cannot drift.
    */
  private val TmeCats: Seq[(String, Seq[String])] = Seq(
    "cytotoxic" -> Seq("CD8_T", "CD8A", "NK_cells", "NKT"),
    "helper" -> Seq("CD4_T", "T_cells", "Th1", "Th2"),
    "antigen_presenting" -> Seq("Dendritic_cells", "cDC1", "cDC2",
      "pDC", "B_cells"),
    "immunosuppressive" -> Seq("Treg", "MDSC", "M2_Macro"),
    "myeloid" -> Seq("Monocytes", "Macrophages", "Classical_Mono",
      "Non_classical_Mono", "Kupffer_cells"),
    "stromal" -> Seq("Fibroblasts", "CAF", "Myofibroblast",
      "Stellate_cells", "Pericytes"),
    "endothelial" -> Seq("Endothelial", "Vascular_EC",
      "Lymphatic_EC", "LSECs"),
    "epithelial" -> Seq("Epithelial", "Hepatocytes", "Colonocytes",
      "Alveolar_type2", "Luminal_epithelial", "Ductal_cells",
      "Acinar_cells"))
  private val TmeImmunePrefixes = Seq("T_cells", "NK_cells",
    "B_cells", "Monocytes", "Macrophages", "Dendritic_cells",
    "Plasma_cells", "Mast_cells", "Neutrophils")
  private val TmeStromalPrefixes = Seq("Fibroblasts", "CAF",
    "Endothelial", "Pericytes", "Stellate")

  /** TME composition + phenotype (agent_singlecell.py:2615 — the
    * reference's real category prefix lists, verbatim, over the
    * realistic type names; immune 50% + NK present → 'Hot
    * (Inflamed)').
    */
  private def scTmeComp(s: SparkSession, d: String): DataFrame =
    SingleCell.tmeComposition(tmeTypes(s, d), "cell_type",
      categories = TmeCats,
      immunePrefixes = TmeImmunePrefixes,
      stromalPrefixes = TmeStromalPrefixes)
      .orderBy(col("category"))

  private val tmeTypeCaseSql = TmeTypeNames.zipWithIndex.map {
    case (n, i) => s"WHEN cell_id % ${TmeTypeNames.size} = $i THEN '$n'"
  }.mkString("CASE ", " ", " ELSE '' END")

  private val tmeTypesCtes =
    s"""cl AS (SELECT DISTINCT cell_id FROM e),
       |tp AS (SELECT cell_id, $tmeTypeCaseSql AS cell_type FROM cl)""".stripMargin

  private def tmeSetFlagsSql(i: Int, genes: Seq[String]): String =
    s"""gene IN ${sqlInList(genes)} AS in_$i"""

  private val scTmeSql = {
    val setIdx = TmeSets.zipWithIndex
    val inFlags = setIdx.map { case ((_, gs), i) =>
      tmeSetFlagsSql(i, gs)
    }.mkString(",\n    ")
    val ctrlFlags = setIdx.map { case (_, i) =>
      s"""(max(CASE WHEN in_$i THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY bin) = 1) AND NOT in_$i AS ctrl_$i"""
        .stripMargin
    }.mkString(",\n    ")
    val sizeSums = setIdx.map { case (_, i) =>
      s"""sum(CASE WHEN in_$i THEN 1.0 ELSE 0.0 END) AS n_in_$i,
         |    sum(CASE WHEN ctrl_$i THEN 1.0 ELSE 0.0 END) AS n_ctrl_$i"""
        .stripMargin
    }.mkString(",\n    ")
    val cellSums = setIdx.map { case (_, i) =>
      s"""sum(CASE WHEN fl.in_$i THEN ex.x ELSE 0.0 END)::DOUBLE AS x_in_$i,
         |    sum(CASE WHEN fl.ctrl_$i THEN ex.x ELSE 0.0 END)::DOUBLE AS x_ctrl_$i"""
        .stripMargin
    }.mkString(",\n    ")
    val scores = setIdx.map { case (_, i) =>
      s"""CASE WHEN n_in_$i < 2.0 THEN NULL ELSE
         |      round(x_in_$i / nullif(n_in_$i, 0.0)
         |        - x_ctrl_$i / nullif(n_ctrl_$i, 0.0) + 0.000000001, 6)
         |      END AS score_$i""".stripMargin
    }.mkString(",\n    ")
    val longRows = setIdx.map { case ((name, _), i) =>
      s"SELECT cell_id, '$name' AS signature, score_$i AS score FROM scw"
    }.mkString("\n  UNION ALL ")
    s"""WITH $scMatrixCtes,
       |$scLogExCtes,
       |$tmeTypesCtes,
       |gm AS (SELECT gene, round(sum(x)::DOUBLE / n_cells
       |      + 0.000000001, 6) AS mu
       |  FROM ex, (SELECT count(*)::DOUBLE AS n_cells FROM cl)
       |  GROUP BY gene, n_cells),
       |bi AS (SELECT gene,
       |    floor(rank() OVER (ORDER BY mu)::DOUBLE / greatest(1.0,
       |      floor((count(*) OVER ())::DOUBLE / 24.0))) AS bin,
       |    $inFlags
       |  FROM gm),
       |fl AS (SELECT gene,
       |    ${setIdx.map { case (_, i) => s"in_$i" }.mkString(", ")},
       |    $ctrlFlags
       |  FROM bi),
       |sz AS (SELECT $sizeSums FROM fl),
       |cs AS (SELECT ex.cell_id,
       |    $cellSums
       |  FROM ex JOIN fl ON ex.gene = fl.gene GROUP BY ex.cell_id),
       |scw AS (SELECT cell_id,
       |    $scores
       |  FROM cs, sz),
       |lng AS ($longRows)
       |SELECT tp.cell_type, l.signature,
       |  round(avg(l.score) + 0.000000001, 6) AS mean_score,
       |  count(*)::BIGINT AS n_cells
       |FROM lng l JOIN tp ON l.cell_id = tp.cell_id
       |WHERE l.score IS NOT NULL
       |GROUP BY tp.cell_type, l.signature
       |ORDER BY cell_type, signature""".stripMargin
  }

  private val scTmeCompSql = {
    val cats = TmeCats
    val immune = TmeImmunePrefixes
    val stromal = TmeStromalPrefixes
    def pc(ps: Seq[String]): String = ps.map(p =>
      s"sum(CASE WHEN cell_type LIKE '$p%' THEN 1 ELSE 0 END)::BIGINT")
      .mkString("(", " + ", ")")
    val catSums = cats.map { case (n, ps) => s"${pc(ps)}::BIGINT AS c_$n" }
      .mkString(",\n    ")
    val unions = (cats.map { case (n, _) =>
      s"SELECT '$n' AS category, c_$n AS n_cells FROM ag"
    } ++ Seq(
      "SELECT 'immune_total' AS category, c_imm_total AS n_cells FROM ag",
      "SELECT 'stromal_total' AS category, c_str_total AS n_cells FROM ag",
      "SELECT 'tumor_purity' AS category, c_total - c_imm_total - c_str_total AS n_cells FROM ag"))
      .mkString("\n  UNION ALL ")
    s"""WITH $scMatrixCtes,
       |$tmeTypesCtes,
       |ag AS (SELECT
       |    $catSums,
       |    ${pc(immune)}::BIGINT AS c_imm_total,
       |    ${pc(stromal)}::BIGINT AS c_str_total,
       |    count(*)::BIGINT AS c_total,
       |    max(CASE WHEN regexp_matches(lower(cell_type), 'cd8|nk|cytotoxic')
       |      THEN 1 ELSE 0 END) AS cyto
       |  FROM tp),
       |ph AS (SELECT *,
       |    CASE WHEN c_imm_total::DOUBLE / c_total * 100.0 > 30.0 AND cyto = 1
       |        THEN 'Hot (Inflamed)'
       |      WHEN c_imm_total::DOUBLE / c_total * 100.0 > 15.0
       |        THEN 'Immune-Altered'
       |      ELSE 'Cold (Desert)' END AS tumor_phenotype
       |  FROM ag),
       |lng AS ($unions)
       |SELECT l.category, l.n_cells,
       |  round(l.n_cells::DOUBLE / ph.c_total * 100.0 + 0.000000001, 6)
       |    AS pct,
       |  ph.tumor_phenotype
       |FROM lng l, ph
       |ORDER BY category""".stripMargin
  }

  /* ---------------- sc_pathways ---------------- */

  private val ScPathUniverse = 64
  private val ScPathTop = 5

  /** Per-cluster pathway enrichment (agent_singlecell.py:2062
    * _analyze_cluster_pathways): each cluster's top-$ScTopN markers
    * (the sc_markers chain) enriched against the residue-class
    * pathway panel via the grouped hypergeometric operator — one BH
    * family per cluster, exactly one Enrichr call's adjusted-p family
    * — keeping the reference's top-5-by-adjusted-p cut (:2097
    * nsmallest(5, 'Adjusted P-value')) and its <5-gene cluster skip.
    */
  private def scPathways(s: SparkSession, d: String): DataFrame = {
    val markers = Stats.markerStats(
      scLongMatrix(s, d), "cluster", "gene", "v", ScTopN)
    val mem = Tables.part(s, d).where(col("p_size") < 4)
      .select(col("p_brand").as("pathway"),
        pmod(col("p_partkey"), lit(ScPathUniverse)).cast("long")
          .as("gene"))
    val enr = Stats.hypergeomEnrichBy(mem, "pathway", "gene",
      markers, "cluster", "gene", universe = ScPathUniverse)
    val byCluster = Window.partitionBy(col("cluster"))
      .orderBy(col("p_adj").asc_nulls_last, col("p_value").asc_nulls_last,
        col("pathway"))
    enr.withColumn("rnk", row_number().over(byCluster).cast("long"))
      .where(col("rnk") <= ScPathTop)
      .orderBy(col("cluster"), col("rnk"))
  }

  private val scPathwaysSql =
    s"""WITH $kmeansCtes,
       |$markerCtes,
       |mk AS (SELECT DISTINCT cluster, gene FROM fin
       |  WHERE rnk <= $ScTopN),
       |mem2 AS (SELECT DISTINCT p_brand AS pathway,
       |    (p_partkey % $ScPathUniverse)::BIGINT AS gene
       |  FROM part WHERE p_size < 4),
       |szs AS (SELECT pathway, count(*)::BIGINT AS pathway_size
       |  FROM mem2 GROUP BY 1),
       |lsz AS (SELECT cluster, count(*)::BIGINT AS list_size
       |  FROM mk GROUP BY 1 HAVING count(*) >= 5),
       |ov AS (SELECT mk.cluster, mem2.pathway, count(*)::BIGINT AS gene_count
       |  FROM mk JOIN mem2 USING (gene) GROUP BY 1, 2),
       |lfs AS (SELECT i, sum(ln(i)) OVER (ORDER BY i
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
       |  FROM generate_series(1, $ScPathUniverse) t(i)),
       |lfv AS (SELECT list_prepend(0.0, list(s ORDER BY i)) AS arr
       |  FROM lfs),
       |en4 AS (SELECT ov.cluster, ov.pathway, gene_count, pathway_size,
       |    list_size, $ScPathUniverse::BIGINT AS universe, arr
       |  FROM ov JOIN szs USING (pathway) JOIN lsz USING (cluster)
       |  CROSS JOIN lfv),
       |sc4 AS (SELECT cluster, pathway, gene_count, pathway_size,
       |    list_size, universe,
       |    round(least(list_sum(list_transform(
       |      generate_series(
      |        greatest(gene_count, pathway_size + list_size - universe),
      |        least(pathway_size, list_size)),
       |      i -> exp(arr[pathway_size+1] - arr[i+1] - arr[pathway_size-i+1]
       |        + arr[universe-pathway_size+1] - arr[list_size-i+1]
       |        - arr[universe-pathway_size-list_size+i+1]
       |        - (arr[universe+1] - arr[list_size+1]
       |           - arr[universe-list_size+1])))),
       |      1.0) + 0.000000001, 6) AS p_value,
       |    round((gene_count * (universe - pathway_size - list_size
       |        + gene_count))::DOUBLE
       |      / nullif(((pathway_size - gene_count)
       |        * (list_size - gene_count))::DOUBLE, 0.0)
       |      + 0.000000001, 6) AS odds_ratio
       |  FROM en4),
       |rk4 AS (SELECT sc4.*,
       |    count(p_value) OVER (PARTITION BY cluster)::BIGINT AS n_feat,
       |    row_number() OVER (PARTITION BY cluster
       |      ORDER BY p_value ASC NULLS LAST, pathway)::BIGINT AS p_rank
       |  FROM sc4),
       |bh4 AS (SELECT *,
       |    CASE WHEN p_value IS NULL THEN NULL ELSE
       |      round(least(
       |        min(p_value * n_feat / p_rank) OVER (PARTITION BY cluster
       |          ORDER BY p_value DESC NULLS FIRST, pathway DESC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |        1.0) + 0.000000001, 6) END AS p_adj
       |  FROM rk4),
       |top5 AS (SELECT cluster, pathway, gene_count, pathway_size,
       |    list_size, universe,
       |    gene_count::VARCHAR || '/' || pathway_size::VARCHAR AS overlap,
       |    odds_ratio, p_value, p_adj,
       |    row_number() OVER (PARTITION BY cluster
       |      ORDER BY p_adj ASC NULLS LAST, p_value ASC NULLS LAST,
       |        pathway)::BIGINT AS rnk
       |  FROM bh4)
       |SELECT cluster, pathway, gene_count, pathway_size, list_size,
       |  universe, overlap, odds_ratio, p_value, p_adj, rnk
       |FROM top5 WHERE rnk <= $ScPathTop
       |ORDER BY cluster, rnk""".stripMargin

  /* ---------------- sc_grn ---------------- */

  private val GrnGenes = 20
  private val GrnTfs = (10 to 14).map(i => s"G$i")

  /** SCENIC-style GRN edges (agent_singlecell.py:2726 _analyze_grn):
    * the curated TF panel stands in as genes G10..G14 over a matrix
    * with DETERMINISTIC REGULON STRUCTURE — the QC cell universe over a
    * denser 20-gene panel, with expression (cell·(1+gid mod 5)) mod 101 + 1, so
    * genes sharing a residue group follow the same per-cell latent
    * rank order (within-group TF→target Spearman is high; cross-group
    * pairs decorrelate). Realistic cell-type names; the reference's
    * ≥20-cell floor, std ≥ 0.1 filters, |ρ| > 0.3 / p < 0.05 cuts,
    * activation/repression labels, top-50-by-|ρ| per type. The
    * oracle replays the dense-rank recovery and the normal-tail p
    * textually.
    */
  private def scGrn(s: SparkSession, d: String): DataFrame = {
    val gid = pmod(col("l_partkey"), lit(GrnGenes))
    val sparsity = Tables.lineitem(s, d).select(
      pmod(col("l_orderkey"), lit(QcCells)).cast("long").as("cell_id"),
      gid.cast("long").as("gid")).distinct()
    // cell_type is a pure function of cell_id (the tmeTypes residue
    // case), so it projects inline — joining the tmeTypes frame here
    // would re-scan lineitem a second time for the identical cell
    // universe (both key l_orderkey % QcCells) just to recompute it
    val name = TmeTypeNames.zipWithIndex.foldRight(lit("")) {
      case ((n, i), rest) =>
        when(pmod(col("cell_id"), lit(TmeTypeNames.size)) === i, lit(n))
          .otherwise(rest)
    }
    val ex = sparsity.select(name.as("ct"), col("cell_id"),
      concat(when(col("gid") < QcMitoGenes, lit("MT-")).otherwise(lit("G")),
        col("gid").cast("string")).as("gene"),
      (pmod(col("cell_id") * (lit(1) + pmod(col("gid"), lit(5))), lit(101))
        + lit(1.0)).cast("double").as("x"))
    SingleCell.grnEdges(ex, "ct", "cell_id", "gene", "x", GrnTfs)
      .orderBy(col("ct"), col("rnk"))
  }

  private val scGrnSql =
    s"""WITH $scMatrixCtes,
       |$tmeTypesCtes,
       |gm0 AS (SELECT DISTINCT (l_orderkey % $QcCells)::BIGINT AS cell_id,
       |    (l_partkey % $GrnGenes)::BIGINT AS gid FROM lineitem),
       |gx AS (SELECT cell_id,
       |    (CASE WHEN gid < $QcMitoGenes THEN 'MT-' ELSE 'G' END)
       |      || gid::VARCHAR AS gene,
       |    ((cell_id * (1 + gid % 5)) % 101 + 1.0)::DOUBLE AS x
       |  FROM gm0),
       |exr AS (SELECT tp.cell_type AS ct, gx.cell_id, gx.gene,
       |    round(gx.x + 0.000000001, 6) AS xr
       |  FROM gx JOIN tp USING (cell_id)),
       |nty AS (SELECT ct, count(DISTINCT cell_id)::DOUBLE AS n_cells
       |  FROM exr GROUP BY ct HAVING count(DISTINCT cell_id) >= 20),
       |rl AS (SELECT gene, gene IN ${sqlInList(GrnTfs)} AS is_tf,
       |    row_number() OVER (PARTITION BY gene IN ${sqlInList(GrnTfs)}
       |      ORDER BY gene) AS tgt_rank
       |  FROM (SELECT DISTINCT gene FROM gx)),
       |rl2 AS (SELECT gene, is_tf, (NOT is_tf AND tgt_rank <= 100)
       |    AS is_target
       |  FROM rl WHERE is_tf OR (NOT is_tf AND tgt_rank <= 100)),
       |sub AS (SELECT exr.ct, exr.cell_id, exr.gene, exr.xr,
       |    nty.n_cells, rl2.is_tf, rl2.is_target
       |  FROM exr JOIN nty USING (ct) JOIN rl2 USING (gene)),
       |rk5 AS (SELECT sub.*,
       |    rank() OVER (PARTITION BY ct, gene ORDER BY xr)::DOUBLE
       |      AS rank_min,
       |    count(*) OVER (PARTITION BY ct, gene, xr)::DOUBLE AS cnt_eq,
       |    count(*) OVER (PARTITION BY ct, gene)::DOUBLE AS n_present
       |  FROM sub),
       |rk6 AS (SELECT *,
       |    (n_cells - n_present) + rank_min + (cnt_eq - 1.0) / 2.0
       |      AS r_abs
       |  FROM rk5),
       |gg AS (SELECT ct, gene, is_tf, is_target, n_cells,
       |    count(*)::DOUBLE AS np, sum(xr)::DOUBLE AS sx,
       |    sum(xr * xr)::DOUBLE AS sx2, sum(r_abs)::DOUBLE AS srp,
       |    sum(r_abs * r_abs)::DOUBLE AS sr2p
       |  FROM rk6 GROUP BY ct, gene, is_tf, is_target, n_cells),
       |gg2 AS (SELECT *,
       |    (n_cells - np + 1.0) / 2.0 AS z0,
       |    round(sqrt(greatest((sx2 - sx * sx / n_cells)
       |      / nullif(n_cells - 1.0, 0.0), 0.0)) + 0.000000001, 6)
       |      AS xstd,
       |    sr2p + (n_cells - np) * ((n_cells - np + 1.0) / 2.0)
       |      * ((n_cells - np + 1.0) / 2.0) AS sr2
       |  FROM gg),
       |gg3 AS (SELECT * FROM gg2 WHERE xstd >= 0.1),
       |tfg AS (SELECT ct, gene AS tf, n_cells, srp AS srp_a,
       |    sr2 AS sr2_a, z0 AS z0_a, np AS np_a FROM gg3 WHERE is_tf),
       |tgg AS (SELECT ct, gene AS target, srp AS srp_b, sr2 AS sr2_b,
       |    z0 AS z0_b, np AS np_b FROM gg3 WHERE is_target),
       |co5 AS (SELECT a.ct, a.gene AS tf, b.gene AS target,
       |    count(*)::DOUBLE AS n_ab, sum(a.r_abs)::DOUBLE AS sa_ab,
       |    sum(b.r_abs)::DOUBLE AS sb_ab,
       |    sum(a.r_abs * b.r_abs)::DOUBLE AS sab
       |  FROM rk6 a JOIN rk6 b ON a.ct = b.ct AND a.cell_id = b.cell_id
       |  WHERE a.is_tf AND b.is_target GROUP BY 1, 2, 3),
       |pr5 AS (SELECT t.ct, t.tf, g.target, t.n_cells,
       |    t.srp_a, t.sr2_a, t.z0_a, t.np_a,
       |    g.srp_b, g.sr2_b, g.z0_b, g.np_b,
       |    co5.n_ab, co5.sa_ab, co5.sb_ab, co5.sab
       |  FROM tfg t JOIN tgg g USING (ct)
       |  LEFT JOIN co5 ON co5.ct = t.ct AND co5.tf = t.tf
       |    AND co5.target = g.target),
       |cr5 AS (SELECT *,
       |    coalesce(sab, 0.0)
       |      + z0_b * (srp_a - coalesce(sa_ab, 0.0))
       |      + z0_a * (srp_b - coalesce(sb_ab, 0.0))
       |      + (n_cells - np_a - np_b + coalesce(n_ab, 0.0)) * z0_a * z0_b
       |      AS sxy,
       |    n_cells * (n_cells + 1.0) / 2.0 AS srr
       |  FROM pr5),
       |cor5 AS (SELECT ct, tf, target, n_cells,
       |    round((n_cells * sxy - srr * srr)
       |      / nullif(sqrt((n_cells * sr2_a - srr * srr)
       |        * (n_cells * sr2_b - srr * srr)), 0.0)
       |      + 0.000000001, 6) AS correlation
       |  FROM cr5),
       |fil5 AS (SELECT * FROM cor5
       |  WHERE correlation IS NOT NULL AND abs(correlation) > 0.3),
       |px5 AS (SELECT *, abs(correlation * sqrt((n_cells - 2.0)
       |      / (1.0 - correlation * correlation))) / sqrt(2.0) AS x
       |  FROM fil5 WHERE correlation * correlation < 1.0),
       |pt5 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM px5),
       |pv5 AS (SELECT ct, tf, target,
       |    correlation, round($pSql + 0.000000001, 6) AS p_value
       |  FROM pt5
       |  UNION ALL
       |  SELECT ct, tf, target, correlation, 0.0 AS p_value
       |  FROM fil5 WHERE correlation * correlation >= 1.0),
       |fin5 AS (SELECT *,
       |    CASE WHEN correlation > 0 THEN 'activation'
       |         ELSE 'repression' END AS regulation,
       |    row_number() OVER (PARTITION BY ct
       |      ORDER BY abs(correlation) DESC, tf, target)::BIGINT AS rnk
       |  FROM pv5 WHERE p_value < 0.05)
       |SELECT ct, tf, target, correlation, p_value, regulation, rnk
       |FROM fin5 WHERE rnk <= 50
       |ORDER BY ct, rnk""".stripMargin

  /* ---------------- sc_traj_dynamics ---------------- */

  private val TrajGenes = 20
  private val TrajTop = 10

  /** Gene dynamics along pseudotime (agent4_trajectory.py:362
    * _compute_gene_dynamics): the QC cell universe with a
    * deterministic pseudotime (cell·29 mod 101 — 101 distinct values
    * over 2000 cells, so the average-rank TIE path is exercised hard)
    * over a 20-gene panel where gid%4==1 genes track pseudotime,
    * gid%4==2 genes anti-track it (zeros from the sparsity pattern
    * keep |ρ| honest), and the rest follow unrelated residue latents.
    * Top 5 per direction (nTopGenes=10). The oracle replays the
    * two-phase distinct-value prefix sum, the sparse dense-rank
    * recovery and the normal-tail p textually.
    */
  private def scTrajDyn(s: SparkSession, d: String): DataFrame = {
    val gid = pmod(col("l_partkey"), lit(TrajGenes))
    val sparsity = Tables.lineitem(s, d).select(
      pmod(col("l_orderkey"), lit(QcCells)).cast("long").as("cell_id"),
      gid.cast("long").as("gid")).distinct()
    val ptRaw = pmod(col("cell_id") * 29, lit(101)).cast("double")
    val pt = sparsity.select(col("cell_id")).distinct()
      .select(col("cell_id"), ptRaw.as("pseudotime"))
    val ex = sparsity.select(col("cell_id"),
      concat(lit("G"), col("gid").cast("string")).as("gene"),
      when(pmod(col("gid"), lit(4)) === 1, ptRaw + 1.0)
        .when(pmod(col("gid"), lit(4)) === 2, lit(102.0) - ptRaw)
        .otherwise((pmod(col("cell_id") * (lit(1) + pmod(col("gid"),
          lit(5))), lit(101)) + lit(1.0)).cast("double")).as("x"))
    SingleCell.trajectoryDynamics(ex, pt, "cell_id", "gene", "x",
      "pseudotime", nTopGenes = TrajTop)
      .orderBy(col("direction"), col("rnk"))
  }

  private val scTrajDynSql =
    s"""WITH tm0 AS (SELECT DISTINCT
       |    (l_orderkey % $QcCells)::BIGINT AS cell_id,
       |    (l_partkey % $TrajGenes)::BIGINT AS gid FROM lineitem),
       |tpt AS (SELECT cell_id,
       |    round(((cell_id * 29) % 101)::DOUBLE + 0.000000001, 6)
       |      AS ptv
       |  FROM (SELECT DISTINCT cell_id FROM tm0)),
       |tex AS (SELECT cell_id, 'G' || gid::VARCHAR AS gene,
       |    round((CASE
       |        WHEN gid % 4 = 1 THEN ((cell_id * 29) % 101)::DOUBLE + 1.0
       |        WHEN gid % 4 = 2 THEN 102.0 - ((cell_id * 29) % 101)::DOUBLE
       |        ELSE ((cell_id * (1 + gid % 5)) % 101 + 1.0)::DOUBLE
       |      END) + 0.000000001, 6) AS xr
       |  FROM tm0),
       |tvals AS (SELECT ptv, count(*)::DOUBLE AS cnt FROM tpt
       |  GROUP BY ptv),
       |trk AS (SELECT ptv, cnt,
       |    coalesce(sum(cnt::DOUBLE) OVER (ORDER BY ptv
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
       |      + (cnt + 1.0) / 2.0 AS a_rank
       |  FROM tvals),
       |tsc AS (SELECT sum(cnt)::DOUBLE AS n_cells,
       |    sum(cnt * a_rank * a_rank)::DOUBLE AS sa2
       |  FROM trk HAVING sum(cnt::DOUBLE) >= 100),
       |tpr AS (SELECT tpt.cell_id, trk.a_rank FROM tpt
       |  JOIN trk USING (ptv)),
       |trn AS (SELECT tex.gene, tex.xr, tpr.a_rank,
       |    rank() OVER (PARTITION BY gene ORDER BY xr)::DOUBLE
       |      AS rank_min,
       |    count(*) OVER (PARTITION BY gene, xr)::DOUBLE AS cnt_eq
       |  FROM tex JOIN tpr USING (cell_id)),
       |trn2 AS (SELECT gene, a_rank,
       |    rank_min + (cnt_eq - 1.0) / 2.0 AS rp FROM trn),
       |tga AS (SELECT gene, count(*)::DOUBLE AS np,
       |    sum(a_rank)::DOUBLE AS sa_p, sum(rp)::DOUBLE AS srp,
       |    sum(rp * rp)::DOUBLE AS srp2,
       |    sum(a_rank * rp)::DOUBLE AS sarp
       |  FROM trn2 GROUP BY gene),
       |tcj AS (SELECT * FROM tga CROSS JOIN tsc),
       |tz AS (SELECT *, n_cells - np AS nz,
       |    (n_cells - np + 1.0) / 2.0 AS z0,
       |    n_cells * (n_cells + 1.0) / 2.0 AS sr FROM tcj),
       |tmm AS (SELECT *,
       |    np * nz * nz + 2.0 * nz * srp + srp2 + nz * z0 * z0 AS sb2,
       |    nz * sa_p + sarp + z0 * (sr - sa_p) AS sab FROM tz),
       |tco AS (SELECT gene, n_cells,
       |    round((n_cells * sab - sr * sr)
       |      / nullif(sqrt((n_cells * sa2 - sr * sr)
       |        * (n_cells * sb2 - sr * sr)), 0.0)
       |      + 0.000000001, 6) AS correlation
       |  FROM tmm),
       |tfl AS (SELECT * FROM tco
       |  WHERE correlation IS NOT NULL AND correlation <> 0.0),
       |tpx AS (SELECT *, abs(correlation * sqrt((n_cells - 2.0)
       |      / (1.0 - correlation * correlation))) / sqrt(2.0) AS x
       |  FROM tfl WHERE correlation * correlation < 1.0),
       |tpt2 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM tpx),
       |tpv AS (SELECT gene, correlation,
       |    round($pSql + 0.000000001, 6) AS p_value
       |  FROM tpt2
       |  UNION ALL
       |  SELECT gene, correlation, 0.0 AS p_value
       |  FROM tfl WHERE correlation * correlation >= 1.0),
       |tfin AS (SELECT
       |    CASE WHEN correlation > 0 THEN 'increasing'
       |         ELSE 'decreasing' END AS direction,
       |    gene, correlation, p_value,
       |    row_number() OVER (PARTITION BY correlation > 0
       |      ORDER BY abs(correlation) DESC, gene)::BIGINT AS rnk
       |  FROM tpv)
       |SELECT direction, gene, correlation, p_value, rnk
       |FROM tfin WHERE rnk <= ${TrajTop / 2}
       |ORDER BY direction, rnk""".stripMargin

  /* ---------------- sc_traj_root ---------------- */

  private val RootGenes = 30
  private val RootClusters = 6

  /** The reference's stem/progenitor panel (agent4_trajectory.py:288)
    * — the binding's gene universe carries the first five, so the
    * present-marker subset (M=5, not 8) is exercised like the
    * reference's `m in var_names` filter.
    */
  private val StemMarkers = Seq("CD34", "KIT", "PROM1", "THY1",
    "ALDH1A1", "SOX2", "NANOG", "POU5F1")

  /** Root-cluster detection (agent4_trajectory.py:286 + :312): six
    * clusters over the QC cell universe; cluster c2's marker entries
    * carry a +40 shift so it wins the stem score for real; 2D
    * embedding coords are residue lattices. Oracle replays the dense
    * marker mean (sum present / n_cells·M), the rank, and the
    * centroid-nearest root cell of the winning cluster.
    */
  private def scTrajRoot(s: SparkSession, d: String): DataFrame = {
    val gid = pmod(col("l_partkey"), lit(RootGenes))
    val sparsity = Tables.lineitem(s, d).select(
      pmod(col("l_orderkey"), lit(QcCells)).cast("long").as("cell_id"),
      gid.cast("long").as("gid")).distinct()
    val cells = sparsity.select(col("cell_id")).distinct()
    val gname = StemMarkers.take(5).zipWithIndex
      .foldRight(concat(lit("G"), col("gid").cast("string")): Column) {
        case ((n, i), rest) =>
          when(col("gid") === i, lit(n)).otherwise(rest)
      }
    val base = (pmod(col("cell_id") * (lit(1) + pmod(col("gid"),
      lit(5))), lit(101)) + lit(1.0)).cast("double")
    val ex = sparsity.select(col("cell_id"), gname.as("gene"),
      (base + when(pmod(col("cell_id"), lit(RootClusters)) === 2 &&
        col("gid") < 5, lit(40.0)).otherwise(lit(0.0))).as("x"))
    val cl = cells.select(col("cell_id"),
      concat(lit("c"), pmod(col("cell_id"), lit(RootClusters))
        .cast("string")).as("cluster"))
    val co = cells.select(col("cell_id"),
      pmod(col("cell_id") * 13, lit(199)).cast("double").as("ex"),
      pmod(col("cell_id") * 37, lit(211)).cast("double").as("ey"))
    SingleCell.trajectoryRoot(ex, cl, co, "cell_id", "gene", "x",
      "cluster", "ex", "ey", StemMarkers)
      .orderBy(col("rnk"))
  }

  private val scTrajRootSql = {
    val markerCase = StemMarkers.take(5).zipWithIndex.map {
      case (n, i) => s"WHEN gid = $i THEN '$n'"
    }.mkString("CASE ", " ", " ELSE 'G' || gid::VARCHAR END")
    val markerList = StemMarkers.map(m => s"'$m'").mkString("(", ", ", ")")
    s"""WITH rt0 AS (SELECT DISTINCT
       |    (l_orderkey % $QcCells)::BIGINT AS cell_id,
       |    (l_partkey % $RootGenes)::BIGINT AS gid FROM lineitem),
       |rtc AS (SELECT DISTINCT cell_id FROM rt0),
       |rcl AS (SELECT cell_id,
       |    'c' || (cell_id % $RootClusters)::VARCHAR AS cluster
       |  FROM rtc),
       |rco AS (SELECT cell_id, ((cell_id * 13) % 199)::DOUBLE AS ex,
       |    ((cell_id * 37) % 211)::DOUBLE AS ey FROM rtc),
       |rex AS (SELECT cell_id, $markerCase AS gene,
       |    ((cell_id * (1 + gid % 5)) % 101 + 1.0)::DOUBLE
       |      + (CASE WHEN cell_id % $RootClusters = 2 AND gid < 5
       |          THEN 40.0 ELSE 0.0 END) AS x
       |  FROM rt0),
       |rpm AS (SELECT count(DISTINCT gene)::DOUBLE AS n_markers
       |  FROM rex WHERE gene IN $markerList
       |  HAVING count(DISTINCT gene) > 0),
       |rn AS (SELECT cluster, count(*)::DOUBLE AS n_cells FROM rcl
       |  GROUP BY cluster),
       |rms AS (SELECT rcl.cluster, sum(rex.x)::DOUBLE AS sv
       |  FROM rex JOIN rcl USING (cell_id)
       |  WHERE rex.gene IN $markerList GROUP BY rcl.cluster),
       |rsc AS (SELECT rn.cluster,
       |    round(coalesce(rms.sv, 0.0) / (rn.n_cells * rpm.n_markers)
       |      + 0.000000001, 6) AS stem_score
       |  FROM rn LEFT JOIN rms USING (cluster) CROSS JOIN rpm),
       |rsr AS (SELECT *, row_number() OVER
       |    (ORDER BY stem_score DESC, cluster)::BIGINT AS rnk
       |  FROM rsc),
       |rbc AS (SELECT rcl.cell_id, rcl.cluster, rco.ex, rco.ey
       |  FROM rcl JOIN rco USING (cell_id)
       |  JOIN (SELECT cluster FROM rsr WHERE rnk = 1) b
       |    USING (cluster)),
       |rcent AS (SELECT cluster,
       |    round(avg(ex) + 0.000000001, 6) AS cx,
       |    round(avg(ey) + 0.000000001, 6) AS cy
       |  FROM rbc GROUP BY cluster),
       |rroot AS (SELECT cluster, cell_id AS root_cell FROM (
       |    SELECT rbc.cluster, rbc.cell_id,
       |      row_number() OVER (PARTITION BY rbc.cluster
       |        ORDER BY round((ex - cx) * (ex - cx)
       |          + (ey - cy) * (ey - cy) + 0.000000001, 6), cell_id)
       |        AS drnk
       |    FROM rbc JOIN rcent USING (cluster)) dd
       |  WHERE drnk = 1)
       |SELECT rsr.cluster, stem_score, rnk, root_cell
       |FROM rsr LEFT JOIN rroot USING (cluster)
       |ORDER BY rnk""".stripMargin
  }

  /* ---------------- sc_cnv_score / sc_malignant ---------------- */

  private val CnvGenes = 40
  private val CnvChroms = 6

  /** Reference rosters (agent5_cnv_ml.py:643 cancer_markers, :655
    * immune_types). The binding's universe carries MKI67/EPCAM/CD44,
    * so the present-marker subset (M=3 of 11) is exercised.
    */
  private val CancerMarkers = Seq("MKI67", "TOP2A", "PCNA", "MCM2",
    "CCNB1", "EPCAM", "KRT18", "KRT19", "CD44", "ALDH1A1", "PROM1")
  private val ImmuneTypes = Seq("T_cells", "B_cells", "NK_cells",
    "Monocyte", "Macrophage", "Dendritic", "Mast", "Neutrophil")

  private def cnvGeneName(gid: Int): String = gid match {
    case 0 => "MKI67"
    case 1 => "EPCAM"
    case 2 => "CD44"
    case g => s"G$g"
  }
  private def cnvChrom(gid: Int): String =
    if (gid < 36) s"chr${gid % 6 + 1}" else "unknown"

  /** CNV-score binding (agent5_cnv_ml.py:453): 40 genes, 36 mapped
    * over 6 chromosomes + 4 'unknown' (exercising the mapped-gene
    * filter); chr3 genes carry +30 for cells ≡ 0 mod 5 so those
    * cells' chr3 deviation is a real amplification signal.
    */
  private def cnvExpr(s: SparkSession, d: String): DataFrame = {
    val gid = pmod(col("l_partkey"), lit(CnvGenes))
    val sparsity = Tables.lineitem(s, d).select(
      pmod(col("l_orderkey"), lit(QcCells)).cast("long").as("cell_id"),
      gid.cast("long").as("gid")).distinct()
    val gname = (0 until CnvGenes).foldRight(lit(""): Column) {
      case (i, rest) =>
        when(col("gid") === i, lit(cnvGeneName(i))).otherwise(rest)
    }
    val base = (pmod(col("cell_id") * (lit(1) + pmod(col("gid"),
      lit(7))), lit(101)) + lit(1.0)).cast("double")
    sparsity.select(col("cell_id"), gname.as("gene"),
      (base + when(col("gid") < 36 && pmod(col("gid"), lit(6)) === 2 &&
        pmod(col("cell_id"), lit(5)) === 0, lit(30.0))
        .otherwise(lit(0.0))).as("x"))
  }

  private def cnvChromMap(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until CnvGenes).map(g => (cnvGeneName(g), cnvChrom(g)))
      .toDF("gene", "chromosome")
  }

  private def scCnvScore(s: SparkSession, d: String): DataFrame =
    SingleCell.cnvScores(cnvExpr(s, d), cnvChromMap(s), "cell_id",
      "gene", "x", "chromosome")
      .orderBy(col("cell_id"))

  private def scMalignant(s: SparkSession, d: String): DataFrame = {
    // ONE synth frame feeds both the CNV leg and the marker leg —
    // two independently built frames would carry two identical
    // scan+distinct subtrees Spark cannot dedupe
    val ex = cnvExpr(s, d)
    val cnv = SingleCell.cnvScores(ex, cnvChromMap(s),
      "cell_id", "gene", "x", "chromosome")
    SingleCell.malignantScores(cnv, ex, tmeTypes(s, d),
      "cell_id", "gene", "x", "cell_type", CancerMarkers, ImmuneTypes)
      .orderBy(col("cell_id"))
  }

  /** The cnvScores replay chain ending in CTE `cnv(cell_id,
    * cnv_score)` — shared by both oracles. Every sum carries a no-op
    * ::DOUBLE on its (already DOUBLE) argument for the lint.
    */
  private val cnvCtes: String = {
    val nameCase = (0 until CnvGenes).map(i =>
      s"WHEN gid = $i THEN '${cnvGeneName(i)}'")
      .mkString("CASE ", " ", " ELSE '' END")
    val mapValues = (0 until CnvGenes).map(g =>
      s"('${cnvGeneName(g)}', '${cnvChrom(g)}')").mkString(", ")
    s"""cm0 AS (SELECT DISTINCT
       |    (l_orderkey % $QcCells)::BIGINT AS cell_id,
       |    (l_partkey % $CnvGenes)::BIGINT AS gid FROM lineitem),
       |cmg AS (SELECT * FROM (VALUES $mapValues) t(gene, chromosome)),
       |cex AS (SELECT cell_id, $nameCase AS gene,
       |    ((cell_id * (1 + gid % 7)) % 101 + 1.0)::DOUBLE
       |      + (CASE WHEN gid < 36 AND gid % 6 = 2 AND cell_id % 5 = 0
       |          THEN 30.0 ELSE 0.0 END) AS x
       |  FROM cm0),
       |cmap AS (SELECT gene, chromosome FROM cmg
       |  WHERE chromosome <> 'unknown'),
       |cgen AS (SELECT DISTINCT cex.gene, cmap.chromosome
       |  FROM cex JOIN cmap USING (gene)),
       |cgu AS (SELECT count(*)::BIGINT AS n_mapped FROM cgen
       |  HAVING count(*) >= 10),
       |ccl AS (SELECT DISTINCT cell_id FROM cex),
       |cnc AS (SELECT count(*)::DOUBLE AS n_cells FROM ccl),
       |cgm AS (SELECT cex.gene, cgen.chromosome,
       |    sum(cex.x::DOUBLE)::DOUBLE AS sx
       |  FROM cex JOIN cgen USING (gene) GROUP BY 1, 2),
       |cgm2 AS (SELECT gene, chromosome,
       |    round(sx / cnc.n_cells + 0.000000001, 6) AS gm
       |  FROM cgm CROSS JOIN cnc),
       |ccs AS (SELECT chromosome, count(*)::DOUBLE AS g_chr,
       |    sum(gm::DOUBLE)::DOUBLE AS sgm
       |  FROM cgm2 GROUP BY chromosome),
       |ccs2 AS (SELECT chromosome, g_chr,
       |    round(sgm / g_chr + 0.000000001, 6) AS chrm FROM ccs),
       |ccc AS (SELECT cex.cell_id, cgen.chromosome,
       |    sum(cex.x::DOUBLE)::DOUBLE AS scx
       |  FROM cex JOIN cgen USING (gene) GROUP BY 1, 2),
       |cde AS (SELECT ccl.cell_id, ccs2.chromosome,
       |    round(coalesce(ccc.scx, 0.0) / ccs2.g_chr
       |      + 0.000000001, 6) AS cm,
       |    ccs2.chrm
       |  FROM ccl CROSS JOIN ccs2
       |  LEFT JOIN ccc ON ccc.cell_id = ccl.cell_id
       |    AND ccc.chromosome = ccs2.chromosome),
       |cdv AS (SELECT cell_id,
       |    round(abs(cm - chrm) + 0.000000001, 6) AS dev FROM cde),
       |cnh AS (SELECT count(*)::DOUBLE AS n_chrom FROM ccs2),
       |cnv AS (SELECT cell_id,
       |    round(sum(dev::DOUBLE) / cnh.n_chrom + 0.000000001, 6)
       |      AS cnv_score
       |  FROM cdv CROSS JOIN cnh CROSS JOIN cgu
       |  GROUP BY cell_id, cnh.n_chrom)""".stripMargin
  }

  private val scCnvScoreSql =
    s"""WITH $cnvCtes
       |SELECT cell_id, cnv_score FROM cnv ORDER BY cell_id""".stripMargin

  private val scMalignantSql = {
    val markerList = CancerMarkers.map(m => s"'$m'")
      .mkString("(", ", ", ")")
    val immuneCond = ImmuneTypes
      .map(t => s"strpos(lower(cell_type), '${t.toLowerCase}') > 0")
      .mkString(" OR ")
    s"""WITH $scMatrixCtes,
       |$tmeTypesCtes,
       |$cnvCtes,
       |mpr AS (SELECT DISTINCT gene FROM cex
       |  WHERE gene IN $markerList),
       |mm AS (SELECT count(*)::DOUBLE AS n_markers FROM mpr),
       |msum AS (SELECT cex.cell_id, sum(cex.x::DOUBLE)::DOUBLE AS smk
       |  FROM cex JOIN mpr USING (gene) GROUP BY cex.cell_id),
       |mk0 AS (SELECT cnv.cell_id, cnv.cnv_score, mm.n_markers,
       |    CASE WHEN mm.n_markers > 0
       |      THEN round(coalesce(msum.smk, 0.0) / mm.n_markers
       |        + 0.000000001, 6)
       |      ELSE 0.0 END AS mk
       |  FROM cnv LEFT JOIN msum USING (cell_id) CROSS JOIN mm),
       |mrg AS (SELECT min(cnv_score) AS cmin, max(cnv_score) AS cmax,
       |    min(mk) AS mmin, max(mk) AS mmax FROM mk0),
       |mal AS (SELECT mk0.cell_id, tp.cell_type,
       |    round(0.5 * round((cnv_score - cmin)
       |        / (cmax - cmin + 1e-10) + 0.000000001, 6)
       |      + 0.3 * (CASE WHEN n_markers > 0
       |          THEN round((mk - mmin) / (mmax - mmin + 1e-10)
       |            + 0.000000001, 6)
       |          ELSE 0.0 END)
       |      + CASE WHEN $immuneCond THEN 0.0 ELSE 0.2 END
       |      + 0.000000001, 6) AS malignant_score
       |  FROM mk0 CROSS JOIN mrg
       |  JOIN tp ON tp.cell_id = mk0.cell_id)
       |SELECT cell_id, cell_type, malignant_score,
       |  malignant_score > 0.5 AS is_malignant
       |FROM mal ORDER BY cell_id""".stripMargin
  }

  val defs: Seq[Qdef] = Seq(
    Qdef("deg_stats", degStats, Some(degStatsSql)),
    Qdef("deg_enrich", degEnrich, Some(degEnrichSql)),
    Qdef("deg_validate", degValidate, Some(degValidateSql)),
    Qdef("deg_cpm", degCpm, Some(degCpmSql)),
    Qdef("deg_top_var", degTopVar, Some(degTopVarSql)),
    Qdef("deg_network", degNetwork, Some(degNetworkSql)),
    Qdef("deg_hub", degHub, Some(degHubSql)),
    Qdef("deg_centrality", degCentrality, Some(degCentralitySql)),
    Qdef("deg_direction", degDirection, Some(degDirectionSql)),
    Qdef("sc_markers", scMarkers, Some(scMarkersSql)),
    Qdef("sc_qc", scQc, Some(scQcSql)),
    Qdef("sc_pseudobulk", scPseudobulk, Some(scPseudobulkSql)),
    Qdef("sc_annotate", scAnnotate, Some(scAnnotateSql)),
    Qdef("sc_hvg", scHvg, Some(scHvgSql)),
    Qdef("sc_cellcycle", scCellcycle, Some(scCellcycleSql)),
    Qdef("sc_interactions", scInteractions, Some(scInteractionsSql)),
    Qdef("sc_ploidy", scPloidy, Some(scPloidySql)),
    Qdef("sc_tme", scTme, Some(scTmeSql)),
    Qdef("sc_tme_comp", scTmeComp, Some(scTmeCompSql)),
    Qdef("sc_pathways", scPathways, Some(scPathwaysSql)),
    Qdef("sc_grn", scGrn, Some(scGrnSql)),
    Qdef("sc_traj_dynamics", scTrajDyn, Some(scTrajDynSql)),
    Qdef("sc_traj_root", scTrajRoot, Some(scTrajRootSql)),
    Qdef("sc_cnv_score", scCnvScore, Some(scCnvScoreSql)),
    Qdef("sc_malignant", scMalignant, Some(scMalignantSql)))
}
