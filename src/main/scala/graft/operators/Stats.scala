package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Caching

/** Grouped differential statistics — the Spark-native re-expression
  * of the reference's RNA-seq differential-expression subsystem
  * (reference: rnaseq_pipeline/agents/agent1_deg.py:168 _run_deseq2,
  * :347 _run_synthetic_deg — per-gene log2 fold change, test
  * statistic, p-value, FDR adjust;
  * rnaseq_pipeline/ml/preprocessor.py:92 _normalize_cpm).
  *
  * Scale design: the whole per-feature statistics block is ONE
  * map-side-combinable hash aggregate over (feature) with conditional
  * aggregates per cohort — the sample table is scanned once and only
  * (feature, partial-moment) rows shuffle. The BH adjust is a window
  * over FEATURES (gene-panel cardinality — ~20k in a genome, never
  * corpus-scale), not over samples.
  *
  * Cross-engine protocol: the p-value is pure arithmetic (erfc
  * polynomial + exp) so the oracle evaluates the same expression; the
  * BH rank orders by the ROUNDED p-value with a feature tiebreak, so
  * last-ulp drift in the moments can never flip the rank order
  * between engines.
  */
object Stats {

  /** Two-sided normal-tail p-value for a t/z statistic via the
    * Abramowitz-Stegun 7.1.26 erfc polynomial (|err| < 1.5e-7):
    * p = erfc(|t|/√2). At DEG cohort sizes (hundreds of samples per
    * arm) the normal approximation to Welch's reference distribution
    * is the standard large-sample simplification; the polynomial
    * keeps the oracle twin byte-identical in formula.
    */
  def normalTwoSidedP(t: Column): Column = {
    val x = abs(t) / lit(math.sqrt(2.0))
    val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = lit(0.254829592) * tt -
      lit(0.284496736) * pow(tt, 2) +
      lit(1.421413741) * pow(tt, 3) -
      lit(1.453152027) * pow(tt, 4) +
      lit(1.061405429) * pow(tt, 5)
    poly * exp(-x * x)
  }

  /** Counts-per-million normalization (reference:
    * rnaseq_pipeline/ml/preprocessor.py:92 _normalize_cpm): scale
    * each sample's counts by its library size (the sample's total
    * count) to counts-per-million, plus the standard log2(cpm + 1)
    * transform. Library sizes are one tiny aggregate over samples —
    * sample cardinality is a cohort, never corpus-scale — broadcast
    * back to the count matrix; the matrix itself is scanned once and
    * never shuffled.
    */
  def cpmNormalize(
      counts: DataFrame, sampleCol: String, featureCol: String,
      valueCol: String): DataFrame = {
    val lib = counts.groupBy(col(sampleCol))
      .agg(sum(col(valueCol)).as("lib_size"))
    counts
      .join(broadcast(lib), Seq(sampleCol))
      .withColumn("cpm", col(valueCol) / col("lib_size") * lit(1e6))
      .withColumn("log2_cpm",
        log(col("cpm") + 1.0) / lit(math.log(2.0)))
  }

  /** Top-N features by cross-sample variance (reference:
    * preprocessor.py:102 _select_top_variance_genes — the standard
    * dimensionality cut before clustering/ML). One hash aggregate per
    * feature; the top-N goes through ORDER BY ... LIMIT
    * (TakeOrderedAndProject — per-partition heaps, no global sort).
    * Ordering uses the ROUNDED variance with a feature tiebreak so
    * the cut is reproducible cross-engine.
    */
  def topVarianceFeatures(
      normalized: DataFrame, featureCol: String, valueCol: String,
      n: Int): DataFrame =
    normalized
      .groupBy(col(featureCol))
      .agg(
        count(lit(1)).as("n_samples"),
        round(var_samp(col(valueCol)) + lit(1e-9), 6).as("variance"))
      .orderBy(col("variance").desc, col(featureCol))
      .limit(n)

  /** Pairwise Pearson correlation between features over their aligned
    * per-sample values, kept as edges where |corr| >= `minAbsCorr`
    * (reference: rnaseq_pipeline/agents/agent2_network.py:115
    * _calculate_correlations — DEG co-expression edges). Long-form
    * self-join on the SAMPLE axis; all five moment sums are map-side
    * combinable, so the shuffle carries (featureA, featureB, partial
    * sums), never sample-level rows twice.
    *
    * Pair count is bounded by the feature panel — ENFORCED: when the
    * input carries more than `maxFeatures` features, the panel is
    * pre-cut to the top `maxFeatures` by cross-sample variance
    * (rounded variance, feature tiebreak — the operator-local analog
    * of the reference keeping the top max_genes_for_network=1000
    * genes by padj, agent2_network.py:127-131). An uncapped
    * genome-wide call (20k features → 2×10⁸ pairs replicated per
    * sample join key) is the classic scale-killer this contract
    * prevents; pair space is ≤ maxFeatures², whatever the caller
    * passes.
    *
    * The projected (feature, sample, value) frame is cached: the
    * panel cut and BOTH self-join sides read it, and aliased
    * projections of the same frame do not canonicalize equal, so
    * without the cache ReuseExchange recomputes the upstream pipeline
    * (e.g. cpmNormalize) once per side — the same rule every Dedup
    * pair generator follows.
    *
    * Correlation from explicit moment sums — the same arithmetic the
    * oracle runs — rather than an engine-native corr() whose
    * accumulation strategy may differ between engines.
    */
  def correlationEdges(
      samples: DataFrame, featureCol: String, sampleCol: String,
      valueCol: String, minAbsCorr: Double,
      maxFeatures: Int = 1000): DataFrame = {
    require(maxFeatures > 0, "maxFeatures must be positive")
    // cached: both the panel cut and the self-join read proj
    // (lifecycle: caller-owned, see graft.Caching)
    val proj = samples.select(col(featureCol).as("g"),
      col(sampleCol).as("s"), col(valueCol).as("v")).cache()
    // panel contract: top-maxFeatures by variance, deterministic
    // (TakeOrderedAndProject — per-partition heaps, no global sort);
    // identity when the panel already fits, so in-contract callers
    // lose nothing
    val panel = proj.groupBy(col("g"))
      .agg(round(var_samp(col("v")) + lit(1e-9), 6).as("variance"))
      .orderBy(col("variance").desc, col("g"))
      .limit(maxFeatures)
      .select(col("g"))
    val cut = proj.join(broadcast(panel), Seq("g")).cache()
    val a = cut.select(col("g").as("ga"), col("s"), col("v").as("va"))
    val b = cut.select(col("g").as("gb"), col("s"), col("v").as("vb"))
    def r6(c: Column) = round(c + lit(1e-9), 6)
    // the self-join is matrix-scale × matrix-scale (panel × samples
    // BOTH sides): pin the shuffle join explicitly — at test sizes
    // the optimizer would happily broadcast one side (a raw-scan
    // subtree under a BroadcastExchange, the exact shape the
    // no-fact-broadcast audit forbids), and that plan inverts the
    // moment it meets production sample counts
    val m = a.hint("merge").join(b, Seq("s"))
      .where(col("ga") < col("gb"))
      .groupBy(col("ga"), col("gb"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("va")).as("sx"), sum(col("vb")).as("sy"),
        sum(col("va") * col("va")).as("sxx"),
        sum(col("vb") * col("vb")).as("syy"),
        sum(col("va") * col("vb")).as("sxy"))
    m.withColumn("corr",
      (col("n") * col("sxy") - col("sx") * col("sy")) /
        nullif(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy"))), lit(0.0)))
      // a constant feature has no defined correlation (zero variance
      // denominator) — dropped, like the reference skips NaN edges
      .where(abs(col("corr")) >= minAbsCorr)
      .select(col("ga"), col("gb"), r6(col("corr")).as("corr"),
        r6(abs(col("corr"))).as("abs_corr"))
  }

  /** Degree-centrality hubs from a thresholded edge list (reference:
    * agent2_network.py:207 _calculate_centrality_metrics degree, :257
    * _identify_hub_genes top-N). Both endpoints count; top-N through
    * ORDER BY ... LIMIT with a feature tiebreak.
    */
  def hubFeatures(edges: DataFrame, n: Int): DataFrame =
    edges.select(col("ga").as("feature"))
      .union(edges.select(col("gb").as("feature")))
      .groupBy(col("feature"))
      .agg(count(lit(1)).as("degree"))
      .orderBy(col("degree").desc, col("feature"))
      .limit(n)

  /** Node centrality over a thresholded co-expression edge list —
    * the reference's hub-ranking metric set restricted to its own
    * large-graph path (reference: agent2_network.py:207-249
    * _calculate_centrality_metrics; ml/network_enhancer.py:485-505:
    * beyond 1M edges the reference drops exact betweenness/closeness
    * and ranks by degree + weighted-degree-as-betweenness-proxy —
    * THAT is the contract implemented here, because it is the only
    * one that survives 100 TB; exact betweenness is O(V·E) and has no
    * distributable form).
    *
    * Emits per node: degree, degree_centrality (= degree/(n-1), the
    * nx normalization), betweenness_w (weighted degree normalized by
    * its max — network_enhancer.py:495-498), eigenvector (power
    * iteration, below). Edge columns are parameterized
    * (aCol/bCol/wCol, defaulting to correlationEdges' ga/gb/abs_corr)
    * like the sibling closenessCentrality, so any edge frame works.
    *
    * Eigenvector centrality runs `iters` FIXED rounds of
    * x' = L2normalize((I + A) x) over the unweighted adjacency,
    * x0 = 1 — the (I+A) form is the same bipartite-oscillation guard
    * networkx uses. Fixed iteration count (not convergence-tested)
    * keeps the computation oracle-replayable as unrolled CTEs — the
    * kmeans-CTE device. Cross-engine protocol: x is rounded to 6dp
    * (+1e-9 nudge) after each normalization, so both engines iterate
    * the IDENTICAL rounded state and per-step float drift cannot
    * compound.
    *
    * Scale design: the node/edge frames are panel-bounded upstream
    * (correlationEdges caps the pair space at maxFeatures²), so every
    * per-round join is panel-scale; the edge generator is
    * localCheckpoint-ed once (the incidence/self-loop unions are
    * narrow reads of it) and each round's x is eagerly checkpointed,
    * truncating lineage exactly like connectedComponents — no plan
    * grows with the round count. Only the ≤panel iterate and 1-row
    * aggregates reach broadcast; nothing touches the driver.
    */
  def centrality(edges: DataFrame, iters: Int = 8,
      aCol: String = "ga", bCol: String = "gb",
      wCol: String = "abs_corr"): DataFrame = {
    // materialize the (possibly expensive) edge generator ONCE — the
    // two mirror branches below would otherwise each re-run it (the
    // same single-materialization rule as connectedComponents' pairs)
    val e = edges.select(col(aCol).as("ga"), col(bCol).as("gb"),
      col(wCol).as("abs_corr"))
      .localCheckpoint()
    // undirected incidence list; read by the degree agg + every round
    // (narrow union over the materialized edges — no second
    // checkpoint needed)
    val nd = e
      .select(col("ga").as("gene"), col("gb").as("nbr"), col("abs_corr"))
      .unionAll(e
        .select(col("gb").as("gene"), col("ga").as("nbr"), col("abs_corr")))
    val deg = nd.groupBy(col("gene"))
      .agg(count(lit(1)).as("degree"), sum(col("abs_corr")).as("wdeg"))
      .cache()
    // (I + A) as a plain adjacency sum: one self-loop per node makes
    // each round's y = x + Σ_nbr x a SINGLE join-aggregate instead of
    // a neighbor aggregate plus a separate x-side left join
    val ndSelf = nd.select(col("gene"), col("nbr"))
      .unionAll(deg.select(col("gene"), col("gene").as("nbr")))
    // the iterate is panel-bounded (<= maxFeatures rows) — one
    // partition is its correct physical layout at ANY corpus scale,
    // and it keeps every per-round job at single-task size instead of
    // dragging shuffle.partitions near-empty tasks through 8 rounds
    var x = deg.select(col("gene"), lit(1.0).as("x")).coalesce(1)
    for (k <- 1 to iters) {
      // x is the panel-bounded iterate (<= maxFeatures rows) — it
      // BROADCASTS to the incidence list, so the edge frame never
      // re-shuffles across rounds; the only exchange per round is
      // the map-side-combined partial-sum aggregate, whose payload
      // is <= nodes rows per partition. The self-loop rows fold the
      // +x term into the same aggregate (y = Σ over nbr∪{self}).
      val y = ndSelf
        .join(broadcast(
          x.select(col("gene").as("nbr"), col("x").as("xn"))), Seq("nbr"))
        .groupBy(col("gene")).agg(sum(col("xn")).as("y"))
        .coalesce(1)
      // L2 norm via a whole-frame window — the iterate is a single
      // panel-bounded partition, so this is one in-partition pass
      // instead of a separate aggregate + broadcast job per round.
      // Eager per-round checkpoint: a lazy round would re-run the
      // whole previous round per consumer — measured strictly worse
      // than one checkpoint job per round.
      x = y
        .withColumn("nrm", sqrt(sum(col("y") * col("y"))
          .over(Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))))
        .select(col("gene"),
          round(col("y") / col("nrm") + lit(1e-9), 6).as("x"))
        .localCheckpoint()
    }
    val stats = deg.agg(count(lit(1)).cast("double").as("n_nodes"),
      max(col("wdeg")).as("max_wdeg"))
    deg.join(x, Seq("gene"))
      .crossJoin(broadcast(stats))
      .select(col("gene"), col("degree"),
        round(col("degree").cast("double") / (col("n_nodes") - lit(1.0))
          + lit(1e-9), 6).as("degree_centrality"),
        round(col("wdeg") / col("max_wdeg") + lit(1e-9), 6)
          .as("betweenness_w"),
        col("x").as("eigenvector"))
      .orderBy(col("eigenvector").desc, col("gene"))
  }

  /** Exact closeness centrality — the reference's SMALL-graph branch
    * (agent2_network.py:240 nx.closeness_centrality;
    * network_enhancer.py skips it beyond 1000 nodes, which is why
    * `centrality` above does not emit it). Wasserman-Faust
    * normalization like networkx: C(u) = ((r−1)/Σd) · ((r−1)/(n−1))
    * over unweighted BFS distances, r = nodes reachable from u,
    * n = all nodes; isolated-in-component nodes score 0.
    *
    * Scale design: all-pairs BFS has no distributable form that
    * beats its panel-bounded driver cost — the edge list is capped
    * upstream (correlationEdges maxFeatures), so this is the
    * Spectral/pca2d driver device: collect the bounded edges once,
    * O(n·E) locally, nothing corpus-scale moves. The maxNodes guard
    * makes the bound explicit; above it, rank hubs with `centrality`
    * (the reference does the same).
    */
  /** Synchronous label-propagation communities over an undirected
    * edge list — the density-based complement to
    * `Dedup.connectedComponents` (CC answers "what is REACHABLE";
    * LPA answers "what is DENSELY knit": one bridge edge between two
    * cliques keeps CC's single component but LPA splits them). Fully
    * deterministic where textbook LPA is not: updates are
    * SYNCHRONOUS (no visit order), plurality ties break to the
    * SMALLEST label, labels init to node ids.
    *
    * Scale design per iteration (the CC template): labels join to
    * the edge frame on the node key (the one corpus-scale shuffle),
    * then ONE node-keyed mode(label, deterministic) aggregate — the
    * plurality argmax in a single exchange, with per-node label-count
    * maps as the map-side-combined partial state — no windows.
    * Lineage truncates every round via the r14
    * storage rule (reliable checkpoint when a dir is set, else
    * localCheckpoint); convergence check is one node-scale join with
    * an early-out limit(1). Oscillation (LPA's known failure on
    * symmetric bipartite-ish structures under synchronous updates)
    * is bounded by maxIters — callers get the last sync state, the
    * standard LPA contract.
    * Output: (node, community, community_size).
    */
  def labelPropagation(
      edges: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 10): DataFrame = {
    val integral = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType)
    Seq(aCol, bCol).foreach { c =>
      require(integral.contains(edges.schema(c).dataType),
        s"labelPropagation: $c must be integral (node ids double as " +
          s"labels), got ${edges.schema(c).dataType}") }
    // NOTE (r21, measured): pre-partitioning und on the per-round join
    // key does NOT remove the per-round edge-side Exchange under AQE —
    // AQE re-plans from the logical plan and ignores LogicalRDD's
    // preserved outputPartitioning (probe: works only with AQE off).
    val und = Caching.truncateLineage(edges
      .select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .unionAll(edges.select(col(bCol).cast("long").as("src"),
        col(aCol).cast("long").as("dst"))
        .where(col("src") =!= col("dst")))
      .distinct())
    var labels = Caching.truncateLineage(
      und.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")))
    var iter = 0
    var changed = true
    while (iter < maxIters && changed) {
      // ONE aggregate + ONE exchange per round (r22): the plurality
      // argmax with ties-to-smallest is exactly
      // mode(label, deterministic = true) — highest count, ties break
      // to the lowest value (StatsSpec's "r22 fused LPA round" case
      // pins the semantics on this build, incl. negative labels, and
      // asserts equality with the two-level count→max(struct) shape
      // on a tie-heavy frame).
      // The previous count-by-(src,label) → argmax-by-(src) pair paid
      // two exchanges per round; Mode's partial buffers are per-src
      // label-count maps, so the map-side combine the first aggregate
      // provided is preserved inside the single (src)-keyed exchange.
      // LAZY truncation (r21, the connectedComponents device): the
      // convergence check below materializes the frame right away.
      val next = Caching.truncateLineage(und
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src"))
        .agg(mode(col("label"), deterministic = true).as("label"))
        .select(col("src").as("node"), col("label")), eager = false)
      // ONE action per round: the convergence check materializes
      // `next` (persisting its blocks via the lazy checkpoint) while
      // it runs. The limit's early exit can leave partitions
      // uncomputed; the checkpoint machinery fills those in at job
      // end, so the next round still reads blocks only.
      changed = next
        .join(labels.withColumnRenamed("label", "old"), Seq("node"))
        .where(col("label") =!= col("old"))
        .limit(1).count() > 0
      labels = next
      iter += 1
    }
    // Community sizes: ONE window count over the label key, not a
    // broadcast of the size frame, which is node-scale on fragmented
    // graphs (many tiny communities is the typical LPA outcome).
    labels.withColumn("community_size", count(lit(1)).over(Window.partitionBy(col("label"))))
      .select(col("node"), col("label").as("community"), col("community_size"))
  }

  def closenessCentrality(
      edges: DataFrame, aCol: String, bCol: String,
      maxNodes: Int = 2000): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Guard BEFORE any collect: the node count is a distributed
    // aggregate, so an oversized graph is refused without ever
    // materializing its edges on the driver (the refusal is the
    // whole point of the bound — collecting first would defeat it).
    val typed = edges.select(
      col(aCol).cast("string").as("a"), col(bCol).cast("string").as("b"))
    val nDistributed = typed.select(explode(array(col("a"), col("b"))))
      .distinct().count()
    require(nDistributed <= maxNodes,
      s"closenessCentrality: $nDistributed nodes exceeds " +
        s"maxNodes=$maxNodes — use centrality() (the large-graph " +
        "path) instead")
    // ≤ maxNodes nodes → ≤ maxNodes² distinct edges; dedup before the
    // collect so multi-edges never inflate the driver payload
    // (duplicate adjacency entries would not change BFS distances,
    // but there is no reason to ship them)
    val rows = typed.distinct().collect()
    val nodes = rows.flatMap(r => Seq(r.getString(0), r.getString(1)))
      .distinct.sorted
    val n = nodes.length
    val idx = nodes.zipWithIndex.toMap
    val adj = Array.fill(n)(List.empty[Int])
    rows.foreach { r =>
      val i = idx(r.getString(0)); val j = idx(r.getString(1))
      adj(i) ::= j; adj(j) ::= i
    }
    val scores = (0 until n).map { src =>
      val dist = Array.fill(n)(-1)
      dist(src) = 0
      var frontier = List(src)
      var sumD = 0L; var reach = 1
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap { u =>
          adj(u).filter { v =>
            if (dist(v) < 0) { dist(v) = dist(u) + 1; true } else false
          }
        }
        frontier.foreach { v => sumD += dist(v); reach += 1 }
      }
      val c = if (sumD > 0 && n > 1)
        ((reach - 1).toDouble / sumD) * ((reach - 1).toDouble / (n - 1))
      else 0.0
      (nodes(src), math.rint(c * 1e6) / 1e6)
    }
    scores.toDF("gene", "closeness")
      .orderBy(col("closeness").desc, col("gene"))
  }

  /** Benjamini-Hochberg FDR adjust over a scored frame's `p_value`
    * column: padj_i = min_{j>=i} p_j * n / j over the p-ascending
    * ranking, capped at 1. Appends `p_adj`, keyed tiebreaks on
    * `keyCol` so last-ulp drift can never flip rank order between
    * engines (ranking is on the ROUNDED p).
    *
    * Feature-cardinality windows (a gene panel / pathway list, never
    * corpus-scale) — the single-partition WindowExec warning is
    * expected and harmless, as in the other ≤k-row windows. n_feat
    * also comes from a whole-frame window on the SAME panel: a
    * separate count() aggregate would re-derive the frame from a
    * second scan of the source (PlanAuditSpec pins deg_stats' single
    * scan).
    *
    * Degenerate rows (null p) are EXCLUDED from the BH family: null
    * p-values sort after every real p (explicitly — Spark's ASC
    * default is NULLS FIRST, DuckDB's is NULLS LAST, so an implicit
    * ordering would rank differently per engine), n_feat counts only
    * non-null p, and a degenerate row's own p_adj is null (its suffix
    * window holds only nulls; min ignores nulls in both engines; an
    * implicit least() would silently turn "no p-value" into 1.0).
    */
  def withBhAdjust(scored: DataFrame, keyCol: String,
      partitionCols: Seq[Column] = Nil): DataFrame = {
    def r6(c: Column) = round(c + lit(1e-9), 6)
    // with partitions, each partition is its own BH family (e.g. one
    // per cluster for one-vs-rest markers)
    val part = if (partitionCols.isEmpty) Seq(lit(1)) else partitionCols
    val whole = Window.partitionBy(part: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byP = Window.partitionBy(partitionCols: _*)
      .orderBy(col("p_value").asc_nulls_last, col(keyCol))
    val suffixMin = Window.partitionBy(partitionCols: _*)
      .orderBy(col("p_value").desc_nulls_first, col(keyCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("n_feat", count(col("p_value")).over(whole))
      .withColumn("p_rank", row_number().over(byP).cast("long"))
      .withColumn("p_adj", when(col("p_value").isNull,
        lit(null).cast("double"))
        .otherwise(r6(least(
          min(col("p_value") * col("n_feat") / col("p_rank")).over(suffixMin),
          lit(1.0)))))
      .drop("n_feat", "p_rank")
  }

  /** Per-feature differential statistics between two cohorts:
    * counts/means/variances per arm, log2 fold change (+1 pseudocount,
    * the DESeq-style guard), Welch t statistic, normal-approximation
    * p-value, and Benjamini-Hochberg adjusted p-value
    * (padj_i = min_{j>=i} p_j * n / j over the p-ascending ranking,
    * capped at 1).
    *
    * Output: (featureCol, n_a, n_b, mean_a, mean_b, log2_fc, t_stat,
    * p_value, p_adj) — floats rounded to 6dp (with the suite's +1e-9
    * half-boundary nudge).
    */
  def diffStats(
      samples: DataFrame, featureCol: String, cohortCol: String,
      valueCol: String, cohortA: String, cohortB: String): DataFrame = {
    def arm(c: String) = when(col(cohortCol) === c, col(valueCol))
    val agg = samples
      .where(col(cohortCol).isin(cohortA, cohortB))
      .groupBy(col(featureCol))
      .agg(
        count(arm(cohortA)).as("n_a"),
        count(arm(cohortB)).as("n_b"),
        avg(arm(cohortA)).as("raw_mean_a"),
        avg(arm(cohortB)).as("raw_mean_b"),
        var_samp(arm(cohortA)).as("var_a"),
        var_samp(arm(cohortB)).as("var_b"))
    diffTail(agg, featureCol)
  }

  /** diffStats over PRE-AGGREGATED per-cohort moments instead of raw
    * sample rows: `moments` carries (featureCol, cohortCol, n, s, ss)
    * rows — count, sum and sum-of-squares of the values — at any
    * grouping at least as fine as (feature, cohort); the function
    * re-aggregates to (feature, cohort) and derives mean = s/n and
    * var = (ss − s²/n)/(n−1) explicitly (the markerStats moment
    * arithmetic). Exists so a caller that ALREADY pays a finer
    * moment aggregate for another consumer (IntegratedQueries' shared
    * per-(gene, sample, cohort) frame — one corpus scan feeding both
    * DEG evidence probes, guide §6 read-once) can reuse it here
    * instead of a second corpus scan.
    *
    * Equivalence contract with diffStats (verified by
    * IntegratedDriverSpec at every shipped SF): identical to the
    * rounded 6dp output when the value sums are exact in double
    * (integral values — l_quantity here); the explicit moment formula
    * and var_samp then differ by ulps, orders below the suite's
    * round(+1e-9, 6) protocol.
    */
  private[graft] def diffStatsFromMoments(
      moments: DataFrame, featureCol: String, cohortCol: String,
      cohortA: String, cohortB: String): DataFrame = {
    def arm(c: String, v: Column) = sum(when(col(cohortCol) === c, v))
    val agg = moments
      .where(col(cohortCol).isin(cohortA, cohortB))
      .groupBy(col(featureCol))
      .agg(
        coalesce(arm(cohortA, col("n")), lit(0L)).cast("long").as("n_a"),
        coalesce(arm(cohortB, col("n")), lit(0L)).cast("long").as("n_b"),
        arm(cohortA, col("s")).as("s_a"), arm(cohortB, col("s")).as("s_b"),
        arm(cohortA, col("ss")).as("ss_a"), arm(cohortB, col("ss")).as("ss_b"))
    def meanOf(s: Column, n: Column) = s / nullif(n.cast("double"), lit(0.0))
    // sample variance from exact moments; n−1 = 0 nulls out exactly
    // like var_samp over a single row
    def varOf(s: Column, ss: Column, n: Column) = {
      val nd = n.cast("double")
      (ss - s * s / nd) / nullif(nd - 1.0, lit(0.0))
    }
    diffTail(agg.select(col(featureCol), col("n_a"), col("n_b"),
      meanOf(col("s_a"), col("n_a")).as("raw_mean_a"),
      meanOf(col("s_b"), col("n_b")).as("raw_mean_b"),
      varOf(col("s_a"), col("ss_a"), col("n_a")).as("var_a"),
      varOf(col("s_b"), col("ss_b"), col("n_b")).as("var_b")), featureCol)
  }

  /** The shared scoring tail of diffStats/diffStatsFromMoments over a
    * per-feature frame carrying (n_a, n_b, raw_mean_a, raw_mean_b,
    * var_a, var_b).
    */
  private def diffTail(agg: DataFrame, featureCol: String): DataFrame = {
    val se = sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b"))
    val t = (col("raw_mean_a") - col("raw_mean_b")) / nullif(se, lit(0.0))
    def r6(c: Column) = round(c + lit(1e-9), 6)
    val scored = agg
      .withColumn("log2_fc", r6(
        log(col("raw_mean_a") + 1.0) / lit(math.log(2.0)) -
          log(col("raw_mean_b") + 1.0) / lit(math.log(2.0))))
      .withColumn("t_stat", r6(t))
      // rank on the ROUNDED p so both engines order identically
      .withColumn("p_value", r6(normalTwoSidedP(t)))
    withBhAdjust(scored, featureCol)
      .select(col(featureCol), col("n_a"), col("n_b"),
        r6(col("raw_mean_a")).as("mean_a"),
        r6(col("raw_mean_b")).as("mean_b"),
        col("log2_fc"), col("t_stat"), col("p_value"), col("p_adj"))
  }

  /** Per-cluster one-vs-rest marker statistics (reference:
    * rnaseq_pipeline/agents/agent_singlecell.py:1658 _find_markers —
    * sc.tl.rank_genes_groups(groupby='cluster',
    * n_genes=deg_n_genes at :285): for each cluster, every feature is
    * tested against ALL OTHER clusters pooled, ranked by the test
    * statistic, top `topN` kept per cluster; output mirrors the
    * extracted markers_df columns at :1679 (cluster, gene, score,
    * logfoldchange, pval, pval_adj).
    *
    * Scale design: ONE scan of the (cell, feature, value) long matrix
    * into a map-side-combinable (cluster, feature) moment aggregate
    * (count/sum/sum-of-squares). The rest-of-corpus arm needs no
    * second scan: per-feature TOTALS are re-aggregated from the tiny
    * cluster×feature moment frame (cached — panel-scale, never
    * cell-scale) and the rest moments fall out by subtraction. BH is
    * per-cluster (withBhAdjust partitionCols — each cluster is its
    * own FDR family, matching scanpy's per-group pvals_adj), and the
    * rank/top-N windows partition by cluster over the feature panel —
    * no single-partition window anywhere, so the whole plan scales
    * with clusters × features, not cells.
    *
    * Cross-engine protocol: variances come from the EXPLICIT moment
    * arithmetic ((ss - s²/n) / (n-1)) rather than var_samp, so the
    * oracle runs textually the same formula; score/logfc/p are
    * rounded to 6dp (with the suite's +1e-9 nudge) and the per-cluster
    * marker rank orders by the ROUNDED score with a feature tiebreak.
    * Degenerate arms (single-cell cluster, empty rest) null out via
    * nullif guards instead of ANSI divide-by-zero errors, and
    * logfoldchange is explicitly guarded to means > -1 (raw inputs
    * such as embedding dims can be negative; Spark's log would
    * silently null where DuckDB's ln() raises, so both engines carry
    * the same CASE and agree on null).
    */
  def markerStats(
      cells: DataFrame, clusterCol: String, featureCol: String,
      valueCol: String, topN: Int): DataFrame = {
    def r6(c: Column) = round(c + lit(1e-9), 6)
    val v = col(valueCol)
    // one corpus scan; cached because totals + the join both read it
    val g = cells.groupBy(col(clusterCol), col(featureCol))
      .agg(count(v).cast("double").as("n_in"),
        sum(v).as("s_in"),
        sum(v * v).as("ss_in"))
      .cache()
    val tot = g.groupBy(col(featureCol))
      .agg(sum(col("n_in")).as("n_all"), sum(col("s_in")).as("s_all"),
        sum(col("ss_in")).as("ss_all"))
    val j = g.join(broadcast(tot), Seq(featureCol))
      .withColumn("n_out", col("n_all") - col("n_in"))
      .withColumn("s_out", col("s_all") - col("s_in"))
      .withColumn("ss_out", col("ss_all") - col("ss_in"))
    val meanIn = col("s_in") / nullif(col("n_in"), lit(0.0))
    val meanOut = col("s_out") / nullif(col("n_out"), lit(0.0))
    val varIn = (col("ss_in") - col("s_in") * col("s_in") /
      nullif(col("n_in"), lit(0.0))) / nullif(col("n_in") - 1.0, lit(0.0))
    val varOut = (col("ss_out") - col("s_out") * col("s_out") /
      nullif(col("n_out"), lit(0.0))) / nullif(col("n_out") - 1.0, lit(0.0))
    val t = (meanIn - meanOut) /
      nullif(sqrt(varIn / col("n_in") + varOut / col("n_out")), lit(0.0))
    val scored = j
      .withColumn("score", r6(t))
      // log2(mean+1) is only defined for mean > -1; raw values (e.g.
      // embedding dims) can push a cluster mean below that, where
      // Spark's log returns null but the oracle's ln() raises — so
      // BOTH engines carry the explicit guard and agree on null.
      // The guard compares the ROUNDED mean: each engine folds the
      // mean in its own partial-aggregation order, so an unrounded
      // compare within an ulp of -1.0 could emit value on one engine
      // and null on the other (round-8 ADVICE).
      .withColumn("logfoldchange",
        when(r6(meanIn) > -1.0 && r6(meanOut) > -1.0, r6(
        log(meanIn + 1.0) / lit(math.log(2.0)) -
          log(meanOut + 1.0) / lit(math.log(2.0)))))
      .withColumn("p_value", r6(normalTwoSidedP(t)))
    val byScore = Window.partitionBy(col(clusterCol))
      .orderBy(col("score").desc_nulls_last, col(featureCol))
    withBhAdjust(scored, featureCol, Seq(col(clusterCol)))
      .withColumn("rnk", row_number().over(byScore).cast("long"))
      .where(col("rnk") <= topN)
      .select(col(clusterCol), col(featureCol), col("score"),
        col("logfoldchange"), col("p_value").as("pval"),
        col("p_adj").as("pval_adj"), col("rnk"))
  }

  /** Gene-set over-representation analysis (reference:
    * rnaseq_pipeline/agents/agent3_pathway.py:238 run — the Enrichr
    * call's statistic computed natively, :204
    * _create_gene_to_pathway_mapping consumes the result): for each
    * pathway, the exact hypergeometric upper-tail p-value of the
    * observed overlap k between the DEG list (size n) and the pathway
    * gene set (size K) within a universe of `universe` genes,
    * P(X >= k), plus the Enrichr-style sample odds ratio and BH
    * adjust across the tested pathways (only pathways with k >= 1 are
    * tested, as Enrichr only returns overlapping terms).
    *
    * Scale design: membership is pathway-panel-scale (pathway × gene
    * pairs), the DEG list is capped upstream (the reference caps at
    * max_genes_for_enrichment=500), and the log-factorial table is
    * one broadcast array of `universe`+1 doubles — so the only
    * shuffles are two panel-scale hash aggregates; nothing
    * corpus-scale moves. The tail sum is a per-row strict left fold
    * (`aggregate` over `sequence(max(k, K+n-N), min(K, n))` — the
    * hypergeometric SUPPORT; r19: arguments left of the support floor
    * would need factorials of negatives, the d=768 sf1 crash) —
    * no explode/regroup, and the fold order is deterministic so both
    * engines sum identically-ordered terms.
    *
    * Cross-engine protocol: log-factorials come from a cumulative sum
    * of ln(i) in increasing i (NOT an engine-native lgamma, whose
    * polynomial differs per engine); p and odds are rounded to 6dp
    * with the suite's +1e-9 nudge; BH ranks on the rounded p with a
    * pathway tiebreak.
    */
  def hypergeomEnrich(
      membership: DataFrame, pathwayCol: String, geneCol: String,
      degGenes: DataFrame, degGeneCol: String, universe: Int): DataFrame = {
    val spark = membership.sparkSession
    def r6(c: Column) = round(c + lit(1e-9), 6)
    val mem = membership
      .select(col(pathwayCol).as("pathway"), col(geneCol).as("gene"))
      .distinct()
    val genes = degGenes.select(col(degGeneCol).as("gene")).distinct()
    val sizes = mem.groupBy(col("pathway"))
      .agg(count(lit(1)).as("pathway_size"))
    val overlap = mem.join(broadcast(genes), Seq("gene"))
      .groupBy(col("pathway")).agg(count(lit(1)).as("gene_count"))
    val listSize = genes.agg(count(lit(1)).as("list_size"))
    // log-factorial table lf(0..universe) as one broadcast array row;
    // universe is a gene panel (≤ tens of thousands), so the single-
    // partition cumulative window is driver-scale and intentional
    val cum = Window.orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lfArr = spark.range(0L, universe + 1L)
      .withColumn("lf", sum(when(col("id") === 0L, lit(0.0))
        .otherwise(log(col("id")))).over(cum))
      .groupBy()
      .agg(transform(
        array_sort(collect_list(struct(col("id"), col("lf")))),
        p => p.getField("lf")).as("lfa"))
    def lf(x: Column) = element_at(col("lfa"), (x + lit(1)).cast("int"))
    val bigN = lit(universe.toLong)
    val k = col("gene_count")
    val bigK = col("pathway_size")
    val n = col("list_size")
    val lnChooseN = lf(bigN) - lf(n) - lf(bigN - n)
    val tailP = aggregate(
      sequence(greatest(k, bigK + n - bigN), least(bigK, n)), lit(0.0),
      (acc, i) => acc + exp(
        lf(bigK) - lf(i) - lf(bigK - i) +
          lf(bigN - bigK) - lf(n - i) - lf(bigN - bigK - n + i) -
          lnChooseN))
    // Enrichr-style sample odds ratio: (k / (n-k)) / ((K-k) / (N-K-n+k));
    // a zero denominator (whole list or whole pathway overlapping)
    // means an infinite odds ratio → null
    val odds = (k * (bigN - bigK - n + k)).cast("double") /
      nullif(((bigK - k) * (n - k)).cast("double"), lit(0.0))
    val scored = overlap
      .join(broadcast(sizes), Seq("pathway"))
      .crossJoin(broadcast(listSize))
      .crossJoin(broadcast(lfArr))
      .withColumn("p_value", r6(least(tailP, lit(1.0))))
      .withColumn("odds_ratio", r6(odds))
    withBhAdjust(scored, "pathway")
      .select(col("pathway"), k, bigK, n, bigN.as("universe"),
        concat(k.cast("string"), lit("/"), bigK.cast("string"))
          .as("overlap"),
        col("odds_ratio"), col("p_value"), col("p_adj"))
  }

  /** Grouped hypergeometric enrichment — one BH family per gene LIST
    * (reference: agent_singlecell.py:2062 _analyze_cluster_pathways —
    * per-cluster Enrichr calls over each cluster's top markers, each
    * call its own adjusted-p family; clusters with fewer than 5 genes
    * are skipped at :2082). The Enrichr service's math is the
    * hypergeometric tail this module already implements — this is
    * hypergeomEnrich generalized with a list dimension.
    *
    * Scale: `lists` is clusters × topN rows and membership is a
    * curated panel — everything is panel-scale; overlap counting is
    * one broadcast join + aggregate keyed (list, pathway), BH windows
    * partition by list over ≤|pathways| rows.
    *
    * Output: (listCol, pathway, gene_count, pathway_size, list_size,
    * universe, overlap, odds_ratio, p_value, p_adj).
    */
  def hypergeomEnrichBy(
      membership: DataFrame, pathwayCol: String, geneCol: String,
      lists: DataFrame, listCol: String, listGeneCol: String,
      universe: Int, minList: Int = 5): DataFrame = {
    val spark = membership.sparkSession
    def r6(c: Column) = round(c + lit(1e-9), 6)
    val mem = membership
      .select(col(pathwayCol).as("pathway"), col(geneCol).as("gene"))
      .distinct()
    val gl = lists
      .select(col(listCol).as("lst"), col(listGeneCol).as("gene"))
      .distinct()
    val sizes = mem.groupBy(col("pathway"))
      .agg(count(lit(1)).as("pathway_size"))
    val listSizes = gl.groupBy(col("lst"))
      .agg(count(lit(1)).as("list_size"))
      .where(col("list_size") >= minList.toLong)
    val overlap = mem.join(broadcast(gl), Seq("gene"))
      .groupBy(col("lst"), col("pathway"))
      .agg(count(lit(1)).as("gene_count"))
    val cum = Window.orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lfArr = spark.range(0L, universe + 1L)
      .withColumn("lf", sum(when(col("id") === 0L, lit(0.0))
        .otherwise(log(col("id")))).over(cum))
      .groupBy()
      .agg(transform(
        array_sort(collect_list(struct(col("id"), col("lf")))),
        p => p.getField("lf")).as("lfa"))
    def lf(x: Column) = element_at(col("lfa"), (x + lit(1)).cast("int"))
    val bigN = lit(universe.toLong)
    val k = col("gene_count")
    val bigK = col("pathway_size")
    val n = col("list_size")
    val lnChooseN = lf(bigN) - lf(n) - lf(bigN - n)
    val tailP = aggregate(
      sequence(greatest(k, bigK + n - bigN), least(bigK, n)), lit(0.0),
      (acc, i) => acc + exp(
        lf(bigK) - lf(i) - lf(bigK - i) +
          lf(bigN - bigK) - lf(n - i) - lf(bigN - bigK - n + i) -
          lnChooseN))
    val odds = (k * (bigN - bigK - n + k)).cast("double") /
      nullif(((bigK - k) * (n - k)).cast("double"), lit(0.0))
    val scored = overlap
      .join(broadcast(sizes), Seq("pathway"))
      .join(broadcast(listSizes), Seq("lst"))
      .crossJoin(broadcast(lfArr))
      .withColumn("p_value", r6(least(tailP, lit(1.0))))
      .withColumn("odds_ratio", r6(odds))
    withBhAdjust(scored, "pathway", partitionCols = Seq(col("lst")))
      .select(col("lst").as(listCol), col("pathway"), k, bigK, n,
        bigN.as("universe"),
        concat(k.cast("string"), lit("/"), bigK.cast("string"))
          .as("overlap"),
        col("odds_ratio"), col("p_value"), col("p_adj"))
  }

  /** Score weights and confidence thresholds for `validationScore`,
    * defaulting to the reference's config (agent4_validation.py:140
    * score_weights, :148 confidence_thresholds).
    */
  final case class ValidationConfig(
      isHub: Double = 2.0,
      dbMatched: Double = 2.0,
      cancerTypeMatch: Double = 1.5,
      highPathwayCount: Double = 0.5,
      highThreshold: Double = 5.0,
      mediumThreshold: Double = 3.0,
      lowThreshold: Double = 1.5)

  /** Validation-tier composed scoring (reference:
    * agent4_validation.py:405 _calculate_interpretation_score, :432
    * _determine_confidence, :663 _interpret_gene): joins the DEG list
    * against hub status, known-database membership, cancer-type
    * association, and pathway membership, then applies the reference's
    * additive score and confidence CASE ladder per gene.
    *
    * Semantics mirrored exactly:
    *  - `cancer_type_match` is null unless the gene is db-matched
    *    (:683 — the reference passes None otherwise), and a null
    *    contributes nothing to the score (CASE WHEN null → ELSE in
    *    both engines, like Python's falsy None).
    *  - `pathway_count` counts pathways whose ENRICHED overlap
    *    contains the gene (:204 builds the mapping from returned
    *    terms' overlap genes). For a DEG gene, membership in a
    *    pathway implies that pathway overlaps the DEG list (the gene
    *    itself is the witness), so the count equals the gene's plain
    *    membership degree — computed directly, no enrichment join.
    *  - `expression_direction_consistent` is None in the reference's
    *    stage-1 checklist (:75 default, never set at :681) and so
    *    never scores; it is omitted here.
    *
    * Scale design: the DEG list is capped upstream and every side
    * table is gene-panel-scale → all joins are broadcast left joins
    * onto the list; one narrow plan, no shuffle of anything large.
    */
  def validationScore(
      degGenes: DataFrame, hubs: DataFrame, dbGenes: DataFrame,
      cancerGenes: DataFrame, membership: DataFrame,
      geneCol: String, pathwayCol: String,
      cfg: ValidationConfig = ValidationConfig()): DataFrame = {
    def flagged(df: DataFrame, flag: String) =
      broadcast(df.select(col(geneCol)).distinct()
        .withColumn(flag, lit(true)))
    val pathwayCount = membership
      .select(col(pathwayCol).as("pathway"), col(geneCol))
      .distinct()
      .groupBy(col(geneCol))
      .agg(count(lit(1)).as("pathway_count"))
    val joined = degGenes.select(col(geneCol))
      .join(flagged(hubs, "hub_flag"), Seq(geneCol), "left")
      .join(flagged(dbGenes, "db_flag"), Seq(geneCol), "left")
      .join(flagged(cancerGenes, "cancer_flag"), Seq(geneCol), "left")
      .join(broadcast(pathwayCount), Seq(geneCol), "left")
      .withColumn("is_hub", coalesce(col("hub_flag"), lit(false)))
      .withColumn("db_matched", coalesce(col("db_flag"), lit(false)))
      .withColumn("cancer_type_match",
        when(col("db_matched"), coalesce(col("cancer_flag"), lit(false)))
          .otherwise(lit(null).cast("boolean")))
      .withColumn("pathway_count",
        coalesce(col("pathway_count"), lit(0L)))
    // weights are dyadic-exact doubles (2.0/1.5/0.5 sums), so the
    // score needs no cross-engine rounding guard
    val score =
      when(col("is_hub"), lit(cfg.isHub)).otherwise(lit(0.0)) +
        when(col("db_matched"), lit(cfg.dbMatched)).otherwise(lit(0.0)) +
        when(col("cancer_type_match"), lit(cfg.cancerTypeMatch))
          .otherwise(lit(0.0)) +
        when(col("pathway_count") >= 3, lit(cfg.highPathwayCount))
          .otherwise(lit(0.0))
    joined
      .withColumn("interpretation_score", score)
      .withColumn("confidence",
        when(col("db_matched") &&
          col("interpretation_score") >= cfg.highThreshold, lit("high"))
          .when(col("db_matched") &&
            col("interpretation_score") >= cfg.mediumThreshold,
            lit("medium"))
          .when(!col("db_matched") && col("is_hub"),
            lit("novel_candidate"))
          .when(col("interpretation_score") >= cfg.lowThreshold,
            lit("low"))
          .otherwise(lit("requires_validation")))
      .select(col(geneCol), col("is_hub"), col("db_matched"),
        col("cancer_type_match"), col("pathway_count"),
        col("interpretation_score"), col("confidence"))
  }

  /** Count-matrix type profiling — the reference pipeline's entry
    * gate re-expressed over long-form matrices (reference:
    * rnaseq_pipeline/utils/data_type_detector.py — sample-count
    * ladder at :175 _check_matrix_shape with
    * SINGLECELL_MIN_SAMPLES=500 / BULK_MAX_SAMPLES=200 at :32,
    * sparsity ladder at :274 _check_matrix_characteristics, score
    * combination + confidence + recommended pipeline at :58 detect).
    * The file-format and metadata-column sniffing legs (:146/:239)
    * are filesystem IO, out of scope — a lakehouse matrix has no
    * .h5ad side files; shape and density are the transferable
    * signals, reported alongside value-range / integer-fraction
    * diagnostics.
    *
    * Input: long-form entries (matrixCol, sampleCol, featureCol,
    * valueCol) — one row per PRESENT matrix cell; absent (sample,
    * feature) pairs are implicit zeros, so sparsity counts them as
    * zeros without densifying. Deliberate deviation: the reference
    * samples the first 1000 CSV rows for the sparsity check
    * (:289 nrows=1000) — a head() has no deterministic distributed
    * meaning, so the profile aggregates the WHOLE matrix (strictly
    * more signal, one pass).
    *
    * Scale: ONE hash aggregate per matrix (two distinct-counts
    * expand the input 3×, map-side partials throughout), then
    * per-row codegen'd ladders on the matrices-cardinality frame. At
    * 100 TB the cost is exactly one profile pass over the entries.
    */
  def matrixProfile(
      entries: DataFrame, matrixCol: String, sampleCol: String,
      featureCol: String, valueCol: String,
      scMinSamples: Long = 500L,
      bulkMaxSamples: Long = 200L): DataFrame = {
    val agg = entries.groupBy(col(matrixCol).as("matrix_id"))
      .agg(
        countDistinct(col(sampleCol)).cast("long").as("n_samples"),
        countDistinct(col(featureCol)).cast("long").as("n_genes"),
        count(when(col(valueCol) =!= 0.0, lit(1))).cast("long")
          .as("n_nonzero"),
        round(avg(when(col(valueCol) === floor(col(valueCol)), 1.0)
          .otherwise(0.0)) + lit(1e-9), 4).as("frac_integer"),
        round(min(col(valueCol)) + lit(1e-9), 6).as("v_min"),
        round(max(col(valueCol)) + lit(1e-9), 6).as("v_max"))
    // dense-cell sparsity: implicit zeros = n_samples*n_genes minus
    // present nonzeros; compared ROUNDED on both engines
    val c1 = agg.select(col("*"),
      round((col("n_samples") * col("n_genes") - col("n_nonzero"))
        .cast("double") /
        (col("n_samples") * col("n_genes")).cast("double") * 100.0
        + lit(1e-9), 4).as("sparsity_pct"))
    val c2 = c1.select(col("*"),
      when(col("n_samples") >= scMinSamples, 4L).otherwise(0L)
        .as("shape_sc"),
      when(col("n_samples") < scMinSamples &&
        col("n_samples") <= bulkMaxSamples, 4L).otherwise(0L)
        .as("shape_bulk"),
      when(col("sparsity_pct") > 80.0, 2L).otherwise(0L)
        .as("spar_sc"),
      when(col("sparsity_pct") < 30.0, 2L).otherwise(0L)
        .as("spar_bulk"))
    val c3 = c2.select(col("*"),
      (col("shape_sc") + col("spar_sc")).as("score_singlecell"),
      (col("shape_bulk") + col("spar_bulk")).as("score_bulk"))
    val c4 = c3.select(col("*"),
      when(col("score_singlecell") + col("score_bulk") === 0L,
        "unknown")
        .when(col("score_singlecell") > col("score_bulk"),
          "singlecell")
        .otherwise("bulk").as("data_type"),
      when(col("score_singlecell") + col("score_bulk") === 0L, 0.0)
        .otherwise(round(
          greatest(col("score_singlecell"), col("score_bulk"))
            .cast("double") /
            (col("score_singlecell") + col("score_bulk"))
              .cast("double") + lit(1e-9), 4)).as("confidence"))
    c4.select(
      col("matrix_id"), col("n_samples"), col("n_genes"),
      col("n_nonzero"), col("sparsity_pct"), col("frac_integer"),
      col("v_min"), col("v_max"), col("score_bulk"),
      col("score_singlecell"), col("data_type"), col("confidence"),
      when(col("shape_sc") > 0L, concat(
        col("n_samples").cast("string"),
        lit(s" samples/cells (>=$scMinSamples → likely single-cell)")))
        .when(col("shape_bulk") > 0L, concat(
          col("n_samples").cast("string"),
          lit(s" samples (<=$bulkMaxSamples → likely bulk)")))
        .otherwise(concat(col("n_samples").cast("string"),
          lit(" samples (ambiguous range)"))).as("shape_evidence"),
      when(col("spar_sc") > 0L, concat(lit("High sparsity ("),
        format_string("%.1f",
          round(col("sparsity_pct") + lit(1e-9), 1)),
        lit("% zeros) → likely single-cell")))
        .when(col("spar_bulk") > 0L, concat(lit("Low sparsity ("),
          format_string("%.1f",
            round(col("sparsity_pct") + lit(1e-9), 1)),
          lit("% zeros) → likely bulk")))
        .otherwise(concat(lit("Moderate sparsity ("),
          format_string("%.1f",
            round(col("sparsity_pct") + lit(1e-9), 1)),
          lit("% zeros)"))).as("sparsity_evidence"),
      when(col("data_type") === "singlecell",
        "SingleCellAgent (Scanpy 1-Step)")
        .when(col("data_type") === "bulk" && col("n_samples") >= 6L,
          "Bulk 6-Agent Pipeline (DESeq2 2-Step)")
        .when(col("data_type") === "bulk",
          "Bulk Pre-computed (Fold Change only, samples < 6)")
        .otherwise("Unknown - Manual selection required")
        .as("recommended_pipeline"))
  }
}
