package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Caching
import graft.functions.{TextFns, VectorFns}

/** Deduplication family for LLM-training-data pipelines: exact,
  * MinHash+LSH, n-gram Jaccard set-similarity, SimHash, and
  * embedding-cosine near-dup. The reference dedups its corpus by id
  * only (reference: backend/app/core/corpus_builder.py:615
  * build_collection seen-pmid filtering); these operators generalize
  * that to content-level dedup at scale.
  *
  * Cross-engine determinism: every hash is md5-derived (identical hex
  * in Spark and DuckDB) — never engine-native hash functions.
  *
  * Scale design: no operator materialises the O(n²) pair space. Pairs
  * are generated only inside LSH band buckets / shingle postings /
  * blocking cells, and hot shingles are droppable via a mirrored df
  * cap (stop-shingle suppression) to bound bucket skew.
  *
  * Cache lifecycle: the pair generators share one blocked self-join
  * (`blockedSelfJoin`), which caches its pruned frame because both
  * join sides read it; besides that, an operator caches a frame only
  * where its own plan reads it more than once (shingles feed both
  * signatures and verification; a band or block frame feeds the size
  * count and the prune join). The returned frame is lazy, so the
  * operator cannot unpersist for you — callers clear the caches after
  * each terminal action, as the Caching contract requires (Bench and
  * Verify do).
  */
object Dedup {

  /** Exact duplicate groups by md5 of raw text. Only hashes shuffle;
    * count is map-side combinable.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("dup_cnt"), min(col(idCol)).as("canonical_id"))
      .where(col("dup_cnt") > 1)

  /** Distinct word-n-gram shingles per doc: (id, sh). Tokens are
    * materialized into a column before the shingle lambda — see
    * TextFns.shinglesOfTokens for why.
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol), TextFns.wsTokens(col(textCol)).as("tk"))
      .select(col(idCol),
        explode(array_distinct(TextFns.shinglesOfTokens(col("tk"), n))).as("sh"))

  /** Prime > 2^32 for the double-hashing permutation family. */
  val MinhashPrime = 4294967311L

  /** MinHash signatures via double hashing: two md5-derived 32-bit
    * base hashes per shingle, then permutation i is
    * (m1 + i*m2) mod P — one cheap integer op per extra hash instead
    * of one md5 each (Broder's classic minwise family). Cross-engine
    * reproducible: md5 + 64-bit integer arithmetic only.
    * Output: (id, h0..h{numHashes-1}) as longs.
    */
  def minhashSignatures(
      sh: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val base = sh.select(col(idCol),
      TextFns.hexHash32(col("sh")).as("m1"),
      TextFns.hexHash32(concat(col("sh"), lit("#"))).as("m2"))
    val aggs = (0 until numHashes).map(i =>
      min((col("m1") + lit(i.toLong) * col("m2")) % MinhashPrime).as(s"h$i"))
    base.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Band postings (id, band, bkey) from a signature frame: the
    * persistable LSH index unit — what an incremental pipeline
    * writes per batch (see `incrementalLsh`) and what the batch
    * self-join consumes. Band keys are md5 over the band's hashes
    * plus the band ordinal, so identical hash runs in different
    * bands never collide.
    */
  def bandPostings(
      sigs: DataFrame, idCol: String, numHashes: Int, rows: Int): DataFrame = {
    // an indivisible band width would silently ignore the trailing
    // hashes — paid for in the signatures but contributing no recall
    require(numHashes % rows == 0,
      s"numHashes ($numHashes) must be divisible by band rows ($rows)")
    val numBands = numHashes / rows
    val bands = (0 until numBands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => col(s"h$i"))
      struct(lit(b).as("band"),
        md5(concat_ws("|", cols :+ lit(b.toString): _*)).as("bkey"))
    }
    sigs.select(col(idCol),
      explode(array(bands: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** Docs → persisted-index rows in one call: shingle → MinHash →
    * band postings. This is the frame `incrementalLsh` expects as its
    * `index` side; persist it bucketed by bkey
    * (Corpus.writeBucketed) so nightly probes skip the exchange.
    */
  def minhashBandIndex(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bandRows: Int = 4): DataFrame =
    bandPostings(
      minhashSignatures(shingles(docs, idCol, textCol, shingleN),
        idCol, numHashes),
      idCol, numHashes, bandRows)

  /** LSH candidate pairs: split the signature into bands of `rows`
    * hashes; docs sharing any band key are candidates. The self-join
    * shuffles only (band, key) — never the corpus.
    *
    * Skew guard (blockedSelfJoin): buckets over `maxBucket` are
    * dropped — true duplicates still collide in their other, rarer
    * bands, so recall loss is confined to pathological mega-clusters.
    */
  def lshCandidates(
      sigs: DataFrame, idCol: String, numHashes: Int, rows: Int,
      maxBucket: Int): DataFrame = {
    // the band frame (numBands rows per doc) feeds the bucket counts
    // and the prune join. Measured without this cache (ProfileAll
    // sf0.1, local[4], 3 runs): dedup_minhash_lsh shuffles 2412 →
    // 3338 KB (dedup_cluster, dedup_select +926 KB), median wall
    // 3.26 → 4.04 s; graftbench ingest (checkpointed shingles): no
    // change in lshCandidates.shuffle_mb, exec_ms within noise.
    val exploded = bandPostings(sigs, idCol, numHashes, rows).cache()
    blockedSelfJoin(exploded, Seq("band", "bkey"), maxBucket, idCol -> "d")
      .select(col("da"), col("db")).distinct()
  }

  /** The skew-guarded blocked self-join of the pair generators. A
    * block of B rows emits B² pairs and hot blocks (boilerplate,
    * near-empty docs, degenerate vectors) grow with the corpus, so
    * blocks of `keys` with more than `maxBlock` rows are dropped BEFORE
    * the join (each caller's oracle mirrors the cap). The pruned frame
    * joins itself on `keys` under a.id < b.id: each pair once per
    * shared block, never a self-pair. Each side carries `id` and the
    * `carry` columns, (source, stem) renamed stem + "a" / stem + "b".
    * `checkPruned` sees the pruned frame before the join.
    *
    * The pruned frame is cached because both sides read it. NOTE (r22,
    * measured): without the cache the two prune subtrees do not
    * canonicalize equal (differing output aliases), so exchange reuse
    * never fires and the postings shuffle TWICE — ProfileAll
    * dedup_select 2553 → 3944 KB, dedup_cluster 2491 → 3882 KB, wall a
    * wash locally: the wrong trade at lake scale.
    */
  private def blockedSelfJoin(
      rows: DataFrame, keys: Seq[String], maxBlock: Int,
      id: (String, String), carry: Seq[(String, String)] = Nil,
      checkPruned: DataFrame => Unit = _ => ()): DataFrame = {
    val small = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bsz"))
      .where(col("bsz") <= maxBlock)
      .select(keys.map(col): _*)
    val pruned = rows.join(small, keys).cache()
    checkPruned(pruned)
    def side(suffix: String): DataFrame = pruned.select(keys.map(col) ++
      (id +: carry).map { case (src, stem) => col(src).as(stem + suffix) }: _*)
    side("a").join(side("b"), keys)
      .where(col(id._2 + "a") < col(id._2 + "b"))
  }

  /** Exact Jaccard for given candidate pairs from a shingle frame. */
  def jaccardVerify(
      cand: DataFrame, sh: DataFrame, idCol: String,
      minJaccard: Double): DataFrame = {
    val matches = cand
      .join(sh.select(col(idCol).as("da"), col("sh")), Seq("da"))
      .join(sh.select(col(idCol).as("db"), col("sh")), Seq("db", "sh"))
    jaccardOf(matches, "da", "db", sh, sh, idCol, minJaccard)
  }

  /** Exact Jaccard of `matches` (one row per shingle pair (a, b)
    * shares), set sizes counted from `shA` / `shB`; pairs under
    * `minJaccard` dropped, 6 dp. Output: (a, b, jaccard).
    */
  private def jaccardOf(
      matches: DataFrame, a: String, b: String,
      shA: DataFrame, shB: DataFrame, idCol: String,
      minJaccard: Double): DataFrame = {
    def sizes(sh: DataFrame, side: String, n: String): DataFrame =
      sh.groupBy(col(idCol)).agg(count(lit(1)).as("nsh"))
        .select(col(idCol).as(side), col("nsh").as(n))
    matches
      .groupBy(col(a), col(b))
      .agg(count(lit(1)).cast("double").as("common"))
      .join(sizes(shA, a, "na"), Seq(a))
      .join(sizes(shB, b, "nb"), Seq(b))
      .withColumn("raw_jac",
        col("common") / (col("na") + col("nb") - col("common")))
      .where(col("raw_jac") >= minJaccard)
      .select(col(a), col(b), round(col("raw_jac"), 6).as("jaccard"))
  }

  /** MinHash + LSH near-dup pairs, verified by exact Jaccard. */
  def minhashLsh(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bandRows: Int = 4,
      minJaccard: Double = 0.5, maxBucket: Int = 100): DataFrame = {
    val sh = shingles(docs, idCol, textCol, shingleN).cache()
    val sigs = minhashSignatures(sh, idCol, numHashes)
    val cand = lshCandidates(sigs, idCol, numHashes, bandRows, maxBucket)
    jaccardVerify(cand, sh, idCol, minJaccard)
  }

  /** Incremental-crawl dedup: near-dup pairs between a NEW batch and
    * an EXISTING corpus, WITHOUT re-pairing the corpus — the
    * production nightly (reference analog:
    * backend/app/core/vector_store.py:136 add_chunks' incremental
    * upsert, generalized from id-dedup to content-level). The corpus
    * side enters as its persisted band-posting index
    * (`minhashBandIndex` rows, ideally bucketed by bkey via
    * Corpus.writeBucketed so repeated probes skip the exchange);
    * only the new batch is shingled/hashed in full.
    *
    * Scale shape, stage by stage:
    *  - new-batch postings: narrow over the (small) batch;
    *  - skew guard: bucket population counted on the INDEX side —
    *    corpus-side mega-buckets (boilerplate) are where quadratic
    *    growth lives; they are dropped before the probe join,
    *    mirroring the batch op's maxBucket contract;
    *  - candidate probe: one (band, bkey)-keyed join, new × old
    *    only — never old × old (the whole point) and never new × new
    *    (an intra-batch dup is the BATCH op's job on the delta);
    *  - verify: only MATCHED old docs are re-read and re-shingled
    *    (a semi-join prune bounded by the candidate set — point
    *    lookups against the doc store at lake scale), then one exact
    *    Jaccard between new-side and old-side shingle sets.
    *
    * Output: (new_id, old_id, jaccard) for pairs ≥ minJaccard.
    *
    * Contract: batch ids are DISJOINT from corpus ids (standard for
    * append-only crawl ids). The candidate stage defensively drops
    * new_id = old_id rows, so a violated contract (a re-crawled doc
    * keeping its id) can never emit the doc paired with ITSELF at
    * jaccard 1.0 — but cross pairs involving the reused id are still
    * attributed to whichever side carries it, so disjointness remains
    * the caller's contract, merely no longer a silent-wrong-pair one.
    */
  def incrementalLsh(
      index: DataFrame, baseDocs: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bandRows: Int = 4,
      minJaccard: Double = 0.5, maxBucket: Int = 100,
      cacheIndex: Boolean = true): DataFrame = {
    // new-side shingles feed signatures AND the verify join
    val newSh = shingles(newDocs, idCol, textCol, shingleN).cache()
    val newPost = bandPostings(
      minhashSignatures(newSh, idCol, numHashes), idCol, numHashes, bandRows)
    // two consumers (bucket counts + the probe join). cacheIndex=true
    // (default) is for an INLINE-built index: without the cache the
    // whole shingle→minhash chain re-executes per consumer. Pass
    // cacheIndex=false when `index` is a PERSISTED table (the nightly
    // regime): materialising a corpus-sized index into executor
    // memory is exactly what a 100 TB probe must not do — the two
    // consumers are then two cheap bucketed scans.
    //
    // All index-side keying below is on bkey ALONE: bkey is
    // band-salted at construction (bandPostings hashes the band id
    // into the md5), so (band, bkey) ≡ bkey as a grouping/join key —
    // and a SINGLE key that exactly matches the persisted table's
    // bucket column is what makes the whole index side exchange-free:
    // Spark co-partitions a join on a bucketed table only when ALL
    // join keys equal the bucket keys
    // (spark.sql.requireAllClusterKeysForCoPartition defaults true),
    // so a composite (band, bkey) join re-shuffles the corpus-sized
    // index that bucketing was meant to pre-shuffle. With bkey-only
    // keys the bucket-count aggregate AND the probe join consume
    // HashPartitioning(bkey) straight off the scan — zero index-side
    // exchange, spec-pinned in DedupSpec's bucketed-probe plan test.
    val idxRaw = index.select(col(idCol), col("bkey"))
    val idx = if (cacheIndex) idxRaw.cache() else idxRaw
    val okBuckets = idx.groupBy(col("bkey"))
      .agg(count(lit(1)).as("bsz"))
      .where(col("bsz") <= maxBucket)
      .select(col("bkey"))
    val cand = newPost
      .join(okBuckets, Seq("bkey"))
      .select(col(idCol).as("new_id"), col("bkey"))
      .join(idx.select(col(idCol).as("old_id"), col("bkey")), Seq("bkey"))
      // id-disjointness guard: a contract-violating reused id must
      // never pair a doc with itself (free — evaluated in the join's
      // output projection, no extra stage)
      .where(col("new_id") =!= col("old_id"))
      .select(col("new_id"), col("old_id")).distinct()
      .cache() // feeds the old-doc prune and the verify join
    // no distinct on the prune key: cand is already distinct and
    // left_semi matching is existence-only
    val oldSh = shingles(
      baseDocs.join(cand.select(col("old_id").as(idCol)),
        Seq(idCol), "left_semi"),
      idCol, textCol, shingleN).cache()
    val matches = cand
      .join(newSh.select(col(idCol).as("new_id"), col("sh")), Seq("new_id"))
      .join(oldSh.select(col(idCol).as("old_id"), col("sh")),
        Seq("old_id", "sh"))
    jaccardOf(matches, "new_id", "old_id", newSh, oldSh, idCol, minJaccard)
  }

  /** Default pairwise-verify budget for the two EXACT all-pairs
    * operators below. The verify explode is the one super-linear
    * stage in the dedup family: on a dup-heavy corpus its row count
    * grows quadratically with cluster sizes (measured on the 10×
    * dup-amplified sf1 probe: 17-25× wall for 10× data). The budget
    * converts that from a silent detonation into a loud refusal —
    * the closenessCentrality maxNodes / mmrRerank maxCandidates
    * contract. The lake-scale routes past a refusal are the banded
    * family (minhashLsh / simhashPairs) and the linear repeatedSpans.
    *
    * Calibration (measured Σ_sh C(df,2) on the demo bindings):
    * sf0.01 = 1.4e4, sf0.1 = 1.27e6, and the 10× dup-amplified sf1
    * probe = 1.42e8 (runs in ~52 s there) — so 2e8 admits every
    * regime this repo has actually measured as completing, and the
    * NEXT 10× (≈1.4e10 by the probe's super-linear trend) refuses
    * instead of hanging a cluster.
    */
  val DefaultMaxPairRows = 200000000L

  /** Exact candidate-pair row count of a posting self-join:
    * Σ_key C(n_key, 2) — the certificate requirePairBudget enforces,
    * public so profilers and capacity planners measure the SAME
    * statistic the guard refuses on (no hand-copied twins).
    * n is cast to decimal BEFORE the multiply: a mega-key with
    * n > ~3e9 would overflow n*(n-1) in LongType — an opaque ANSI
    * ARITHMETIC_OVERFLOW (or, non-ANSI, a wrapped negative that
    * UNDER-counts and admits the very corpus the guard exists to
    * refuse). The even product is halved exactly on the driver.
    */
  def pairCertificate(
      postings: DataFrame, keyCol: String): java.math.BigDecimal = {
    val bound = postings.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"))
      .agg(sum(col("n").cast("decimal(19,0)") *
        (col("n") - 1).cast("decimal(19,0)")))
      .head().getDecimal(0)
    if (bound == null) java.math.BigDecimal.ZERO
    else bound.divide(java.math.BigDecimal.valueOf(2))
  }

  /** Refuses when the posting-list self-join would materialise more
    * than `budget` pair rows: pairCertificate's Σ_key C(n_key, 2)
    * over the pruned postings — the EXACT row count of the candidate
    * explode, not an estimate. One scalar aggregate over the (cached)
    * postings frame, so the main plan pays no extra scan.
    */
  private def requirePairBudget(
      postings: DataFrame, keyCol: String, budget: Long,
      op: String): Unit = {
    val rows = pairCertificate(postings, keyCol)
    if (rows.compareTo(java.math.BigDecimal.valueOf(budget)) > 0)
      throw new IllegalStateException(
        s"$op: pairwise-exact verify would materialise $rows candidate " +
          s"rows, over the maxPairRows budget of $budget — this corpus " +
          "is too duplicate-heavy for all-pairs exact verification. " +
          "Use the banded route (minhashLsh / simhashPairs) or the " +
          "linear repeatedSpans, or raise maxPairRows explicitly.")
  }

  /** All-pairs n-gram Jaccard via inverted-index (set-similarity)
    * join. Shingles with document frequency above `maxShingleDf` are
    * dropped BEFORE the join (mirrored stop-shingle cap: bounds the
    * per-posting pair blowup; near-dup pairs still share plenty of
    * rare shingles).
    *
    * Guarded: REFUSES (loud IllegalStateException, never a silent
    * quadratic run) when the posting self-join would exceed
    * `maxPairRows` — see requirePairBudget. The check is one scalar
    * aggregate over the already-cached pruned postings, so the main
    * plan pays no extra scan.
    */
  def ngramJaccard(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, maxShingleDf: Int, minJaccard: Double,
      maxPairRows: Long = DefaultMaxPairRows): DataFrame = {
    // the shingle frame feeds the df count, the prune join and both
    // set sizes
    val sh = shingles(docs, idCol, textCol, shingleN).cache()
    // a shingle's block is its posting list: the df cap is the block cap
    val matches = blockedSelfJoin(sh, Seq("sh"), maxShingleDf, idCol -> "d",
      checkPruned = requirePairBudget(_, "sh", maxPairRows, "ngramJaccard"))
    jaccardOf(matches, "da", "db", sh, sh, idCol, minJaccard)
  }

  /** Prefix-filtered n-gram Jaccard (PPJoin-style, lossless): under a
    * GLOBAL total order of shingles by ASCENDING document frequency
    * (rarest first — the canonical PPJoin ordering, so hot shingles
    * land in suffixes and never generate candidates), any pair with
    * J(A,B) >= t must share a shingle in each side's first
    * n - ceil(t·n) + 1 shingles, so only those PREFIX postings enter
    * the self-join. Candidates are then verified with EXACT Jaccard
    * over the full shingle sets (unlike `ngramJaccard`, whose
    * df-capped counts are approximate in the presence of hot
    * shingles).
    *
    * Guarded like ngramJaccard: REFUSES when the PREFIX-posting
    * self-join would exceed `maxPairRows` rows (the prefix join
    * bounds the candidate count, which in turn drives the exact
    * verify explode — the stage measured super-linear on dup-heavy
    * corpora).
    */
  def ngramJaccardPrefix(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, minJaccard: Double,
      maxPairRows: Long = DefaultMaxPairRows): DataFrame = {
    val sh = shingles(docs, idCol, textCol, shingleN).cache()
    val dfs = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // (df, shingle) is the global sort key; each doc's shingles are
    // sorted ONCE as a hash AGGREGATE (collect_list sorts
    // ~doc-length structs in memory — never a row_number window over
    // whole shuffle partitions) and the prefix is sliced off with its
    // positions, which the candidate-time filters below need.
    // Cached: THREE consumers (prefix explode via the certificate +
    // main plan, and both verify array sides) — and unlike the
    // exploded postings (see below), this is one compact array row
    // per DOC, so the in-memory scan is benign.
    val sorted = sh.join(dfs, Seq("sh"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ks"))
      .select(col(idCol), col("ks"), size(col("ks")).as("nsh"),
        (size(col("ks")) -
          ceil(lit(minJaccard) * size(col("ks"))) + 1).cast("int").as("plen"))
      .cache()
    // deliberately NOT cached: the certificate below recomputes the
    // prefix chain once (~4 s at the sf1 probe — the chain is cheap
    // relative to the join it guards), because caching this frame
    // was measured to SLOW the probe query 51.8 → 93+ s at sf1 —
    // the in-memory scan of the exploded postings starves the
    // downstream self-join that previously read two live codegen
    // pipelines (the "cache fill serializes parallel subtrees"
    // lesson, in join-input form)
    val prefix = sorted
      .select(col(idCol), col("nsh"),
        posexplode(slice(col("ks"), lit(1), col("plen"))).as(Seq("pos0", "k")))
      .select(col(idCol), col("nsh"),
        (col("pos0") + 1).as("pos"), col("k.sh").as("sh"))
    requirePairBudget(prefix, "sh", maxPairRows, "ngramJaccardPrefix")
    val a = prefix.select(col(idCol).as("da"), col("sh"),
      col("nsh").as("na"), col("pos").as("pa"))
    val b = prefix.select(col(idCol).as("db"), col("sh"),
      col("nsh").as("nb"), col("pos").as("pb"))
    // Candidate-time prunes, both LOSSLESS (pure consequences of
    // J >= t), so the oracle — which verifies its own candidate
    // superset with exact Jaccard — needs no mirror:
    //  - length filter: J <= min/max  ⇒  min(na,nb) >= t·max(na,nb);
    //  - positional bound (PPJoin): the FIRST common shingle s* in
    //    the global order is in both prefixes and attains both
    //    min(pa) and min(pb) over matched rows (positions follow the
    //    global order within a doc), and every common shingle sorts
    //    at or after s*  ⇒  |A∩B| <= min(na - ia + 1, nb - jb + 1),
    //    which must reach minOverlap = ceil(t(na+nb)/(1+t)).
    // The 1e-9 guards keep fp threshold error on the conservative
    // (keep-the-pair) side.
    val minOverlap = ceil(
      (lit(minJaccard) / (lit(1.0) + lit(minJaccard))) *
        (col("na") + col("nb")) - lit(1e-9))
    val cand = a.join(b, Seq("sh"))
      .where(col("da") < col("db"))
      .groupBy(col("da"), col("db"))
      .agg(min(col("pa")).as("ia"), min(col("pb")).as("jb"),
        max(col("na")).as("na"), max(col("nb")).as("nb"))
      .where(col("na") >= lit(minJaccard) * col("nb") - lit(1e-9) &&
        col("nb") >= lit(minJaccard) * col("na") - lit(1e-9))
      .where(least(col("na") - col("ia") + 1, col("nb") - col("jb") + 1) >=
        minOverlap)
      .select(col("da"), col("db"))
    // Exact verify by per-pair ARRAY intersection, not a postings
    // join: jaccardVerify's candidate×shingle explode materializes
    // O(candidates × doc-shingles) rows (the measured sf1
    // scale-killer — ~1 B intermediate rows); here each candidate
    // pair fetches the two docs' already-sorted distinct shingle
    // arrays (one compact row per doc, from the cached `sorted`
    // frame the prefix was sliced from) and |A∩B| is a narrow
    // per-row array_intersect — identical exact Jaccard, zero
    // postings shuffle.
    val arrs = sorted.select(col(idCol),
      transform(col("ks"), x => x.getField("sh")).as("shs"),
      col("nsh"))
    cand
      .join(arrs.select(col(idCol).as("da"), col("shs").as("sa"),
        col("nsh").as("na")), Seq("da"))
      .join(arrs.select(col(idCol).as("db"), col("shs").as("sb"),
        col("nsh").as("nb")), Seq("db"))
      .withColumn("common",
        size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .withColumn("raw_jac",
        col("common") / (col("na") + col("nb") - col("common")))
      .where(col("raw_jac") >= minJaccard)
      .select(col("da"), col("db"), round(col("raw_jac"), 6).as("jaccard"))
  }

  /** 64-bit SimHash per doc over distinct word 3-gram shingles (more
    * discriminative than unigram features on small vocabularies),
    * carried as TWO non-negative 32-bit halves (sim_hi, sim_lo).
    * Two halves rather than one 64-bit value on purpose: assembling
    * hi·2³² + lo can exceed BIGINT range (DuckDB raises on overflow),
    * while each half stays < 2³² in both engines. Bit b of each
    * md5-derived 32-bit half-hash votes +1/-1; the simhash bit is set
    * where the vote sum is strictly positive.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = shingles(docs, idCol, textCol, 3)
      .withColumn("hlo", TextFns.hexHash32(col("sh")))
      .withColumn("hhi", TextFns.hexHash32Hi(col("sh")))
    val loSums = (0 until 32).map(bit =>
      sum(shiftright(col("hlo"), bit).bitwiseAND(1) * 2 - 1).as(s"s$bit"))
    val hiSums = (0 until 32).map(bit =>
      sum(shiftright(col("hhi"), bit).bitwiseAND(1) * 2 - 1).as(s"t$bit"))
    val agg = toks.groupBy(col(idCol))
      .agg(loSums.head, (loSums.tail ++ hiSums): _*)
    def assemble(prefix: String): Column =
      (0 until 32).map(bit =>
        when(col(s"$prefix$bit") > 0, lit(1L << bit)).otherwise(lit(0L)))
        .reduce(_ + _)
    agg.select(col(idCol),
      assemble("t").as("sim_hi"), assemble("s").as("sim_lo"))
  }

  /** SimHash near-dup pairs with hamming <= maxHamming over the 64-bit
    * signature. Candidates come from 16-bit band collisions (4 bands
    * → 65,536 buckets per band): bucket population stays sub-linear in
    * corpus size, unlike the 8-bit banding this replaces (1,024 total
    * buckets → quadratic candidate growth). Pairs whose differing bits
    * spread across all 4 bands are unreachable — an accepted
    * recall/scale tradeoff applied identically in the oracle.
    *
    * Skew guard (blockedSelfJoin): buckets over `maxBucket` — e.g.
    * near-empty docs whose sparse features vote the same
    * half-signature — are dropped; true near-dups still collide in
    * their other bands.
    */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6, maxBucket: Int = 100): DataFrame = {
    val sims = simhash(docs, idCol, textCol).cache()
    // bands 0-1 from the low half, 2-3 from the high half; each band
    // value is a non-negative 16-bit slice
    val bandCols = Seq(
      col("sim_lo").bitwiseAND(65535),
      shiftright(col("sim_lo"), 16).bitwiseAND(65535),
      col("sim_hi").bitwiseAND(65535),
      shiftright(col("sim_hi"), 16).bitwiseAND(65535))
    // two consumers (bucket counts + the prune join) — cache, like
    // the LSH band frame
    val banded = sims.select(col(idCol), col("sim_hi"), col("sim_lo"),
      explode(array(bandCols.zipWithIndex.map { case (bv, j) =>
        struct(lit(j).as("bj"), bv.as("bv"))
      }: _*)).as("b"))
      .select(col(idCol), col("sim_hi"), col("sim_lo"),
        col("b.bj").as("bj"), col("b.bv").as("bv"))
      .cache()
    blockedSelfJoin(banded, Seq("bj", "bv"), maxBucket, idCol -> "d",
      Seq("sim_hi" -> "h", "sim_lo" -> "l"))
      .select(col("da"), col("db"),
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
          bit_count(col("la").bitwiseXOR(col("lb")))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Multi-band embedding near-dup: candidate pairs are the UNION of
    * per-band blocking collisions (each band an independent SRP sign
    * code over a disjoint dim slice), verified by exact cosine once.
    * More bands → higher recall (a pair needs sign agreement on only
    * one band), same per-band skew bound; the id-pair union stays
    * tiny relative to the corpus, so the verify join is cheap.
    */
  def embeddingNearDupBands(
      vectors: DataFrame, idCol: String, vecCol: String,
      blockKeys: Seq[Column], minCos: Double,
      maxBlock: Int = 1000): DataFrame = {
    require(blockKeys.nonEmpty, "at least one blocking band required")
    val withNorm = vectors.select(col(idCol), col(vecCol),
      VectorFns.l2Norm(col(vecCol)).as("nrm")).cache()
    val pairs = blockKeys.map { bk =>
      // band keys derive from the CACHED (id, vec, norm) frame — the
      // raw source is scanned once for the whole operator, not twice
      // per band
      blockedSelfJoin(withNorm.select(bk.as("blk"), col(idCol)), Seq("blk"),
        maxBlock, idCol -> "v")
        .select(col("va"), col("vb"))
    }.reduce(_ union _).distinct()
    cosineOf(pairs
      .join(withNorm.select(col(idCol).as("va"), col(vecCol).as("ea"),
        col("nrm").as("nra")), Seq("va"))
      .join(withNorm.select(col(idCol).as("vb"), col(vecCol).as("eb"),
        col("nrm").as("nrb")), Seq("vb")), minCos, "va", "vb")
  }

  /** Embedding near-dup: candidates blocked by a DATA-DERIVED key
    * (default: the SRP-style sign code of the leading dims,
    * VectorFns.signCode — at 100 TB there is no curated cluster/label
    * column, so the blocking must come from the vectors themselves),
    * exact double-cosine within blocks. Pair space is the sum of
    * per-block n², never global n². Sign-agreement blocking trades
    * recall for scale: high-cosine pairs agree on most hyperplane
    * signs, so few true near-dups land in different blocks.
    */
  def embeddingNearDup(
      vectors: DataFrame, idCol: String, vecCol: String, blockKey: Column,
      minCos: Double, maxBlock: Int = 1000): DataFrame = {
    // norms computed once per vector, not once per pair; cached
    // because the block count and the prune join read it
    val withNorm = vectors.select(blockKey.as("blk"), col(idCol), col(vecCol),
      VectorFns.l2Norm(col(vecCol)).as("nrm")).cache()
    cosineOf(blockedSelfJoin(withNorm, Seq("blk"), maxBlock, idCol -> "v",
      Seq(vecCol -> "e", "nrm" -> "nr")), minCos, "va", "vb")
  }

  /** Exact cosine of pairs carrying (ea, nra) and (eb, nrb); pairs
    * under `minCos` dropped, 6 dp. Output: `keep`, then cos_sim.
    */
  private def cosineOf(pairs: DataFrame, minCos: Double, keep: String*): DataFrame =
    pairs
      .withColumn("raw_cos", VectorFns.cosinePrenormed(
        col("ea"), col("eb"), col("nra"), col("nrb")))
      .where(col("raw_cos") >= minCos)
      .select(keep.map(col) :+ round(col("raw_cos"), 6).as("cos_sim"): _*)

  /** Connected-component duplicate clusters over any pair-generator
    * output — the canonicalization stage that turns near-dup PAIRS
    * into groups with one keeper (a "keep min doc_id per cluster"
    * policy falls out of the component label).
    *
    * Pregel-style min-label propagation on DataFrames: nodes are
    * seeded with min(self, neighbors) in one aggregate straight off
    * the edge list; each round then replaces a node's label
    * with the min over itself and its neighbors' labels (one edge
    * join + one map-side-combined min aggregate — all key-partitioned
    * shuffles, no data ever reaches the driver). Labels are
    * monotonically non-increasing and bounded, so an unchanged label
    * SUM certifies the fixpoint; the per-round driver action reads
    * that single decimal scalar (overflow-proof) and nothing else.
    * Rounds needed = component diameter; duplicate clusters are
    * near-cliques (diameter a few hops), and `maxIters` turns a
    * pathological chain into a loud failure rather than a silently
    * wrong clustering.
    *
    * Lineage is TRUNCATED each round (the standard iterative-algorithm
    * pattern — GraphX/ALS do the same): without it, round n's logical
    * plan contains round n−1's plan TWICE (once in the union, once
    * under the join), so the analyzer re-walks 2ⁿ copies of the whole
    * upstream pair-generator subtree by round n — tens of seconds of
    * driver CPU on a millisecond-sized graph. After truncation every
    * round analyzes a constant-size plan over the materialized blocks,
    * stored by Caching.truncateLineage's rule (r14).
    * Output: (node, component, cluster_size) — component = min node
    * id reachable, engine-independent.
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 25): DataFrame = {
    // materialize the pair frame ONCE — both direction branches and
    // every round's join read it, and without a checkpoint/cache the
    // entire upstream pair generator would re-plan AND re-run per
    // branch. `edges` stays a NARROW union over the materialized
    // pairs: duplicate or mirrored edges are harmless under an
    // idempotent min, so the defensive distinct (a full shuffle per
    // round budget) buys nothing.
    val p = Caching.truncateLineage(pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
    // NOTE (r21, measured): pre-partitioning edges on the per-round
    // join key (repartition("dst") before the checkpoint) does NOT
    // remove the per-round edge-side Exchange under AQE — AQE re-plans
    // from the logical plan and ignores LogicalRDD's preserved
    // outputPartitioning (probe: 1 dst-exchange with AQE off, edge
    // side re-exchanges with AQE on). The narrow union stays.
    val edges = p
      .unionAll(p.select(col("dst").as("src"), col("src").as("dst")))
    def sumOf(labels: DataFrame): java.math.BigDecimal =
      labels.agg(sum(col("component").cast("decimal(38,0)")))
        .head().getDecimal(0)
    // round 0 is folded into the seed: min(self, neighbors) comes
    // straight off the edge list in one aggregate — the identity
    // labelling plus its propagation round would cost two extra
    // actions for a state every graph leaves immediately.
    // LAZY truncation for the per-round label frames (r21): every
    // round's frame is materialized by its own sumOf action right
    // after creation, so a non-eager localCheckpoint persists the
    // blocks as a side effect of the certificate job — one action per
    // round instead of two
    var labels = Caching.truncateLineage(edges.groupBy(col("src").as("node"))
      .agg(min(least(col("src"), col("dst"))).as("component")), eager = false)
    // materializes the seed AND computes its certificate in one job
    var cert = sumOf(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val next = Caching.truncateLineage(labels
        .unionAll(edges
          .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
          .select(col("src").as("node"), col("component")))
        .groupBy(col("node"))
        .agg(min(col("component")).as("component")), eager = false)
      // ONE action: materializes `next` (persisting its blocks via
      // the lazy checkpoint) and computes the certificate. `labels`
      // appears twice in next's plan but is already materialized by
      // the previous round's action, so both references read blocks.
      val nextCert = sumOf(next)
      // superseded rounds' checkpoint blocks are label-scale (node,
      // component) rows — reclaimed by the ContextCleaner once the
      // DataFrame goes out of scope; nothing matrix-scale lingers
      labels = next
      converged = (nextCert == null && cert == null) ||
        (nextCert != null && cert != null && nextCert.compareTo(cert) == 0)
      cert = nextCert
      iter += 1 // rounds spent AFTER the folded seed round
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters rounds — " +
        "component diameter exceeds the bound; raise maxIters")
    labels.withColumn("cluster_size",
      count(lit(1)).over(Window.partitionBy(col("component")))
        .cast("long"))
  }

  /** Survivor selection — the final act of the dedup story: given a
    * component labeling (`connectedComponents` output, or any
    * (id, component) frame), keep ONE representative per duplicate
    * cluster — the argmax of `scoreCol` (keep-the-longest /
    * keep-the-highest-quality policy), ties to the SMALLEST id —
    * plus every unclustered doc verbatim (component = null). This is
    * the row set a pipeline actually writes after dedup; the pair /
    * component frames are its evidence.
    *
    * Scale shape: the per-cluster argmax is ONE map-side-combinable
    * aggregate — max(struct(score, -id)) carries the winner's
    * identity through the partial merge, so no window rank over
    * clusters and no join back for the winner's attributes. The
    * unclustered side is a left-anti join against the (small,
    * ≤ clustered-docs) component frame. Integral ids (the -id
    * tie-break negation).
    *
    * Output: (idCol, component, scoreCol) — survivors only.
    */
  def selectSurvivors(
      docs: DataFrame, components: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    // the -id tie-break negation is only exact for integral ids; a
    // string/decimal id would silently cast to double (or null) and
    // corrupt both the tie-break and the returned ids — fail fast
    docs.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"selectSurvivors id '$idCol' must be integral, got ${other.sql}")
    }
    val comp = components.select(col(idCol), col("component"))
    val labeled = docs.select(col(idCol), col(scoreCol))
      .join(comp, Seq(idCol), "left")
    val winners = labeled.where(col("component").isNotNull)
      .groupBy(col("component"))
      .agg(max(struct(col(scoreCol), (-col(idCol)).as("nid"))).as("w"))
      .select((-col("w.nid")).as(idCol), col("component").cast("long"),
        col("w").getField(scoreCol).as(scoreCol))
    val singletons = labeled.where(col("component").isNull)
      .select(col(idCol), lit(null).cast("long").as("component"),
        col(scoreCol))
    winners.unionByName(singletons)
  }

  /** Cross-document repeated-passage detection (exact-substring dedup
    * in the style of Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): every `windowTokens`-token
    * sliding window that occurs in >= `minDocs` DISTINCT documents
    * marks its token span as duplicated; per document the duplicated
    * spans are union-merged and reported as a token-coverage fraction
    * plus a keep/trim/drop curation action.
    *
    * The suffix-array of the paper is replaced by its Spark-shaped
    * equivalent: positional window postings grouped by window string.
    * A fixed window slightly under-counts runs shorter than
    * `windowTokens` and exactly covers all longer ones — the standard
    * approximation when the match floor IS the window size.
    *
    * Span-union without interval trees: windows all have length w and
    * starts are scanned in order per doc, so each duplicated start
    * contributes min(pos - prev_pos, w) new tokens (w for the first)
    * — a single lag window over (doc) partitions.
    *
    * Scale design: this operator NEVER enumerates document pairs —
    * unlike the pairwise dedup family above, cost is linear in
    * corpus tokens. Shuffles are (window) keys for the
    * distinct-doc count + postings join (both partial-aggregated /
    * co-partitioned from the same child) and (doc) keys for the
    * coverage window; a boilerplate window shared by millions of
    * docs is one counter group and w tokens of coverage per doc,
    * never a candidate-pair blowup.
    */
  def repeatedSpans(
      docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, minDocs: Int = 2,
      trimFrac: Double = 0.2, dropFrac: Double = 0.8): DataFrame = {
    val w = windowTokens
    require(w >= 2, s"repeatedSpans: windowTokens=$w must be >= 2")
    val base = docs
      .select(col(idCol), TextFns.wsTokens(col(textCol)).as("tk"))
      .select(col(idCol), col("tk"), size(col("tk")).as("ntok"))
    // positional postings (id, pos, sh) — NOT distinct: a window
    // repeated inside one doc covers both spans
    val win = base
      .select(col(idCol),
        posexplode(TextFns.shinglesOfTokens(col("tk"), w))
          .as(Seq("pos", "sh")))
      .cache() // feeds both the df count and the postings join
    val dupSh = win.groupBy(col("sh"))
      .agg(countDistinct(col(idCol)).as("dw"))
      .where(col("dw") >= minDocs)
      .select(col("sh"))
    val dup = win.join(dupSh, Seq("sh")).select(col(idCol), col("pos"))
    val perDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val cov = dup
      .withColumn("contrib",
        coalesce(least(col("pos") - lag(col("pos"), 1).over(perDoc),
          lit(w)), lit(w)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("ndw"), sum(col("contrib")).as("cover"))
    // dup_frac is rounded BEFORE the action thresholds so Spark and
    // the oracle classify from the identical 6dp value
    base.select(col(idCol), col("ntok"))
      .join(cov, Seq(idCol), "left")
      .select(col(idCol),
        col("ntok").cast("long").as("n_tokens"),
        greatest(col("ntok") - (w - 1), lit(0)).cast("long")
          .as("n_windows"),
        coalesce(col("ndw"), lit(0L)).cast("long").as("n_dup_windows"),
        coalesce(col("cover"), lit(0L)).cast("long")
          .as("dup_cover_tokens"),
        round(coalesce(col("cover"), lit(0L)).cast("double") /
          col("ntok"), 6).as("dup_frac"))
      .withColumn("action",
        when(col("dup_frac") >= dropFrac, lit("drop"))
          .when(col("dup_frac") >= trimFrac, lit("trim"))
          .otherwise(lit("keep")))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means cells BLOCK the corpus, and within
    * each cell every pair at cosine ≥ `minCos` marks the HIGHER id
    * as a semantic duplicate — the deterministic keep-lowest-id
    * variant of the paper's keep-one-per-ε-ball policy. Where
    * embeddingNearDup blocks by SRP sign codes (recall bounded by
    * orthant agreement), the k-means cells here adapt to the actual
    * density structure — the published SemDeDup trade: train a small
    * codebook, miss only cross-cell pairs.
    *
    * Scale shape: codebook training and BOTH assignment passes are
    * zero-exchange NearestCell passes over the driver-held codebook
    * (VectorSearch.assignCells); only (cell, id) keys shuffle for
    * the size prune, and the within-cell self-join is bounded by
    * `maxCell`² per cell — cells past the cap emit no pairs (the
    * mirrored-guard contract the whole blocking family carries).
    * The drop list is ≤ |corpus| rows regardless of pair count.
    *
    * Output, one row per DROPPED vector: (idCol, cell, dup_of,
    * dup_sim) where dup_of is the most-similar LOWER-id in-cell
    * neighbor (ties to the smallest id on the 6dp-rounded score).
    * dup_of may itself be dropped (the ε-ball chain); the retained
    * corpus is every id absent from this frame.
    *
    * Sizing contract: cells average n/k members, so `k` must GROW
    * with the corpus (keep n/k comfortably under `maxCell`) or the
    * size prune silently empties the result — cells past the cap
    * emit no pairs by design. Ground truth at the sf1 probe
    * (r12): k=64 over 20k vectors recovers 17,989/18,000
    * planted near-dups (89.95% vs the 90% ideal) in 9.7 s; the
    * misses are replicas split across cell boundaries, the
    * documented SemDeDup blocking trade.
    */
  def semanticDedup(
      vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, minCos: Double,
      maxCell: Int = 1000): DataFrame = {
    val cents = VectorSearch.lloydCentroids(vectors, idCol, vecCol, k, iters)
    // cached: the cell count and the prune join read it
    val assigned = VectorSearch
      .assignCells(vectors, cents, idCol, vecCol, "cell")
      .cache()
    val pairs = cosineOf(blockedSelfJoin(assigned, Seq("cell"), maxCell,
      idCol -> "v", Seq(vecCol -> "e", "cnrm" -> "nr")),
      minCos, "cell", "va", "vb")
    // keeper attribution orders on the ROUNDED score so both engines
    // break ties from the identical 6dp value
    val w = Window.partitionBy(col("vb"))
      .orderBy(col("cos_sim").desc, col("va"))
    pairs.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("vb").as(idCol), col("cell"),
        col("va").as("dup_of"), col("cos_sim").as("dup_sim"))
  }
}
