package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Per-document text analytics: stats, quality scoring, language ID,
  * corpus keywords, entity extraction, fingerprinting and lens
  * classification. Capability mirrors of
  * reference: backend/app/core/corpus_builder.py:407 QualityScorer,
  * :489 GeneExtractor; backend/app/utils/trend_analyzer.py:216
  * _extract_keywords; backend/app/core/lens_classifier.py:45.
  *
  * All per-doc operators are narrow codegen'd projections; only the
  * corpus-level keyword count shuffles (map-side combined token
  * counts).
  */
object TextAnalysis {

  /** Per-doc token/char/stopword statistics. */
  def stats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextFns.wsTokens(col(textCol))
    docs.select(
      col(idCol),
      size(toks).as("n_tokens"),
      length(col(textCol)).as("n_chars"),
      size(array_distinct(toks)).as("n_distinct"),
      TextFns.countInList(toks, TextFns.stopwords).as("n_stopwords"))
      .withColumn("stop_ratio",
        round(col("n_stopwords").cast("double") / col("n_tokens"), 6))
      .withColumn("distinct_ratio",
        round(col("n_distinct").cast("double") / col("n_tokens"), 6))
  }

  /** Rule-based 0-100 quality score: integer bucket sums over length,
    * token count, stopword ratio, lexical diversity (the shape of
    * QualityScorer.score's additive rubric). All-integer output —
    * bit-identical across engines.
    */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String,
      passThrough: Seq[String] = Nil): DataFrame = {
    val toks = TextFns.wsTokens(col(textCol))
    val nTokens = size(toks)
    val nChars = length(col(textCol))
    val stopRatio = TextFns.countInList(toks, TextFns.stopwords)
      .cast("double") / nTokens
    val distinctRatio = size(array_distinct(toks)).cast("double") / nTokens
    val lenScore = when(nChars > 1500, 20).when(nChars > 800, 15)
      .when(nChars > 300, 10).when(nChars > 100, 5).otherwise(0)
    val tokScore = when(nTokens.between(20, 1000), 20).otherwise(5)
    val stopScore = when(stopRatio.between(0.02, 0.4), 15).otherwise(0)
    val divScore = when(distinctRatio > 0.5, 15).otherwise(5)
    docs.select(col(idCol) +: passThrough.map(col) :+
      lenScore.as("len_score") :+ tokScore.as("tok_score") :+
      stopScore.as("stop_score") :+ divScore.as("div_score"): _*)
      .withColumn("quality",
        col("len_score") + col("tok_score") + col("stop_score") + col("div_score"))
  }

  /** Marker-stopword language ID. Hit counts per language over
    * whitespace tokens; argmax with fixed precedence en>de>fr>es.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "is", "of", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"))

  /** `passThrough` columns ride along in the output — re-joining the
    * source just to recover one of its own columns would scan the
    * corpus twice.
    */
  def languageId(docs: DataFrame, idCol: String, textCol: String,
      passThrough: Seq[String] = Nil): DataFrame = {
    val toks = TextFns.wsTokens(col(textCol))
    val withHits = docs.select(Seq(col(idCol)) ++ langMarkers.map {
      case (lang, markers) =>
        TextFns.countInList(toks, markers).as(s"${lang}_hits")
    } ++ passThrough.map(col): _*)
    val pred =
      when(col("en_hits") >= col("de_hits") && col("en_hits") >= col("fr_hits")
        && col("en_hits") >= col("es_hits"), "en")
        .when(col("de_hits") >= col("fr_hits")
          && col("de_hits") >= col("es_hits"), "de")
        .when(col("fr_hits") >= col("es_hits"), "fr")
        .otherwise("es")
    withHits.withColumn("pred_lang", pred)
  }

  /** Corpus-level top-k keywords: BM25 tokens, len > 3, stopwords
    * removed, global count (map-side combine), top-k.
    */
  /** A domain vocabulary entry (reference:
    * backend/app/core/medical_vocabulary.py:13 MeSHTerm — primary
    * term, synonyms, abbreviations, related terms, exclusions).
    */
  case class VocabPanel(
      primary: String, synonyms: Seq[String],
      abbreviations: Seq[String], related: Seq[String],
      exclusions: Seq[String]) {
    /** The reference's normalization denominator
      * (medical_vocabulary.py:386): primary + weighted synonym and
      * abbreviation capacity (related/exclusions don't count).
      */
    def maxPossible: Double =
      1.0 + synonyms.size * 0.9 + abbreviations.size * 0.85
  }

  /** The abbreviation word-boundary pattern (medical_vocabulary.py:
    * 368 `re.escape(abbr)` + `\b` + IGNORECASE) — ONE builder shared
    * with the oracle SQL so both engines run the same pattern text.
    * Metacharacters are backslash-escaped (re.escape's job): 'IL-2(R)'
    * must match literally, not as a capture group, and 'C++' must not
    * throw. Only non-alphanumerics are escaped — escaping letters
    * would CHANGE semantics (\b, \d...). Valid Java regex and RE2.
    */
  def abbrPattern(t: String): String =
    "(?i)\\b" + t.flatMap(c =>
      if (c.isLetterOrDigit || c == '_') c.toString else s"\\$c") +
      "\\b"

  /** Vocabulary match scoring (medical_vocabulary.py:339
    * match_score): weighted term-class hits — primary 1.0, synonyms
    * 0.9, abbreviations 0.85 (WORD-BOUNDARY regex, case-insensitive,
    * unlike the plain substring match of the other classes —
    * faithfully), related 0.5, exclusions −0.5 — summed raw, then
    * normalized by maxPossible and clamped to [0, 1]. One narrow
    * codegen'd projection; the panel rides as literal predicates.
    */
  def vocabMatch(
      docs: DataFrame, idCol: String, textCol: String,
      panel: VocabPanel): DataFrame = {
    val tl = lower(col(textCol))
    def sub(t: String): Column = instr(tl, t.toLowerCase) > 0
    def abbr(t: String): Column = col(textCol).rlike(abbrPattern(t))
    val terms: Seq[(Column, Double)] =
      Seq(sub(panel.primary) -> 1.0) ++
        panel.synonyms.map(s => sub(s) -> 0.9) ++
        panel.abbreviations.map(a => abbr(a) -> 0.85) ++
        panel.related.map(r => sub(r) -> 0.5) ++
        panel.exclusions.map(e => sub(e) -> -0.5)
    val raw = terms.map { case (c, w) =>
      when(c, lit(w)).otherwise(lit(0.0))
    }.reduce(_ + _)
    val nMatches = terms.map { case (c, _) =>
      when(c, lit(1L)).otherwise(lit(0L))
    }.reduce(_ + _)
    val hasExcl = panel.exclusions.map(sub).reduceOption(_ || _)
      .getOrElse(lit(false))
    docs.select(col(idCol),
      nMatches.as("n_matches"),
      round(raw + lit(1e-9), 6).as("raw_score"),
      round(greatest(lit(0.0), least(lit(1.0),
        raw / panel.maxPossible)) + lit(1e-9), 6).as("score"),
      sub(panel.primary).as("has_primary"),
      hasExcl.as("has_exclusion"))
  }

  def topKeywords(
      docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(TextFns.bm25Tokens(col(textCol))).as("token"))
      .where(length(col("token")) > 3 &&
        !col("token").isInCollection(TextFns.stopwords))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)

  /** Entity extraction: distinct `Word#123`-shaped codes (the
    * GeneExtractor "symbol with digits" heuristic) with corpus counts.
    */
  def extractEntities(
      docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(
      regexp_extract_all(col(textCol), lit("[A-Za-z]+#[0-9]+"), lit(0)))
      .as("entity"))
      .groupBy(col("entity"))
      .agg(count(lit(1)).as("cnt"))

  /** Pattern scrubbing / masking — the PII-redaction shape every
    * LLM-training-data pipeline needs before text ships to a
    * tokenizer: each (regex, replacement) pair is applied in order
    * and its hit count reported per doc (the audit trail that lets a
    * pipeline alert on docs with heavy redaction). Narrow codegen'd
    * projection — regex evaluation only, no shuffle; patterns must
    * stay in the RE2-compatible subset so the oracle twin (DuckDB)
    * matches the Java regex semantics.
    */
  def scrub(
      docs: DataFrame, idCol: String, textCol: String,
      patterns: Seq[(String, String, String)]): DataFrame = {
    // counts measure what each pass ACTUALLY redacts: pattern i is
    // counted on the text AFTER passes 1..i-1 masked it, matching the
    // sequential replace — counting every pattern on the raw text
    // would report phantom redactions wherever patterns overlap
    // (e.g. a digit run inside an already-masked entity code)
    val (masked, countCols) = patterns
      .foldLeft((col(textCol), Seq.empty[org.apache.spark.sql.Column])) {
        case ((cur, counts), (name, regex, repl)) =>
          val n = size(regexp_extract_all(cur, lit(regex), lit(0)))
            .cast("long").as(s"n_$name")
          (regexp_replace(cur, regex, repl), counts :+ n)
      }
    docs.select(Seq(col(idCol)) ++ countCols :+ masked.as("scrubbed"): _*)
  }

  /** Per-doc fingerprints: md5-prefix of normalized text plus the
    * minimum shingle hash (a 1-hash MinHash — robust to small edits).
    */
  def fingerprints(
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    docs
      .select(col(idCol),
        TextFns.contentFingerprint(col(textCol)).as("content_fp"),
        TextFns.wsTokens(col(textCol)).as("tk"))
      .select(col(idCol), col("content_fp"),
        array_min(transform(
          array_distinct(TextFns.shinglesOfTokens(col("tk"), shingleN)),
          s => md5(s))).as("min_shingle_fp"))

  /** Gopher-style word-repetition signals — the quality filters a
    * training-data pipeline runs before text ships to a tokenizer
    * (Rae et al. 2021 §A1.1 repetition filters; the reference's
    * corpus builder has no equivalent, so this extends the surface):
    *   - dup_token_frac: fraction of tokens that are repeats,
    *   - top_token_frac: share of the single most frequent token,
    *   - top_bigram_frac: share of the most frequent bigram among
    *     all bigram slots (null for docs with < 2 tokens).
    *
    * Plan shape: two explode → two-level hash-aggregate pipelines
    * (unigrams, bigrams), each map-side combined, joined on the doc
    * key. Per-doc gram counting is deliberately NOT a per-row
    * O(distinct×len) array HOF — on long documents the explode path
    * scales linearly and stays inside whole-stage codegen (the
    * bigram generator is the native TokenShingles expression).
    */
  def repetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.select(col(idCol), TextFns.wsTokens(col(textCol)).as("tk"))
    def gramStats(grams: Column, totalAs: String, topAs: String) =
      base.select(col(idCol), explode(grams).as("g"))
        .groupBy(col(idCol), col("g"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col(idCol))
        .agg(
          sum(col("c")).as(totalAs),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as(topAs))
    val uni = gramStats(col("tk"), "n_tokens", "top_c")
    val bi = gramStats(TextFns.shinglesOfTokens(col("tk"), 2), "n_bigrams", "top_bc")
      .drop("n_distinct")
    uni.join(bi, Seq(idCol), "left")
      .select(col(idCol),
        col("n_tokens").cast("long").as("n_tokens"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens")
          + lit(1e-9), 6).as("dup_token_frac"),
        round(col("top_c").cast("double") / col("n_tokens") + lit(1e-9), 6)
          .as("top_token_frac"),
        round(col("top_bc").cast("double") / col("n_bigrams") + lit(1e-9), 6)
          .as("top_bigram_frac"))
  }

  /** Lens classification: distinct-keyword-presence score per lens,
    * argmax with fixed precedence (lens_classifier.py:352 classify).
    */
  val lenses: Seq[(String, Seq[String])] = Seq(
    "performance" -> Seq("fast", "slow", "big", "small"),
    "execution" -> Seq("join", "hash", "merge", "sort", "scan"),
    "data_model" -> Seq("table", "column", "row", "key", "value"),
    "streaming" -> Seq("stream", "window", "batch"))

  /** Source/domain-level quality rollup — the CCNet/FineWeb-style
    * DOMAIN filtering step (decide keep/review/drop per source, not
    * per document): per-source document count, mean quality score,
    * good-doc share, exact-duplicate rate, english share, and a
    * thresholded decision. The reference has no corpus-curation
    * analog; this extends the LLM-data-pipeline surface.
    *
    * Scale shape: ONE corpus scan computes the per-doc narrow frame
    * (quality components + text hash — the text itself is dropped
    * immediately); the duplicate flag is a count window PARTITIONED
    * BY the hash over that frame — deliberately NOT a join against a
    * dup-hash set: the dup set is unbounded by contract (a 30%-dup
    * corpus makes it corpus-scale), so a broadcast probe would only
    * look cheap at test scale — the exact fact-broadcast trap the
    * plan audit pins out. The pipeline is linear: scan → hash-keyed
    * window → source-keyed rollup; two exchanges total, no join, no
    * cache needed.
    *
    * Cross-engine protocol: the decision thresholds compare the
    * ROUNDED aggregates, so a last-ulp drift in an average can never
    * flip a source's decision between engines.
    */
  def sourceQuality(
      docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, langCol: String,
      goodMin: Double = 40.0, keepQ: Double = 40.0, dropQ: Double = 25.0,
      keepDup: Double = 0.1, dropDup: Double = 0.5): DataFrame = {
    val perDoc = qualityScore(
      docs.withColumn("text_hash", md5(col(textCol))),
      idCol, textCol, passThrough = Seq(srcCol, langCol, "text_hash"))
    val flagged = perDoc.withColumn("is_dup",
      when(count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("text_hash")))
        > 1, 1.0).otherwise(0.0))
    val rolled = flagged
      .groupBy(col(srcCol))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("quality")) + lit(1e-9), 4).as("avg_quality"),
        round(avg(when(col("quality") >= goodMin, 1.0).otherwise(0.0))
          + lit(1e-9), 4).as("good_share"),
        round(avg(col("is_dup")) + lit(1e-9), 4).as("dup_rate"),
        round(avg(when(col(langCol) === "en", 1.0).otherwise(0.0))
          + lit(1e-9), 4).as("en_share"))
    rolled
      .withColumn("decision",
        when(col("avg_quality") >= keepQ && col("dup_rate") <= keepDup,
          "keep")
          .when(col("avg_quality") < dropQ || col("dup_rate") > dropDup,
            "drop")
          .otherwise("review"))
      .orderBy(col(srcCol))
  }

  /** Corpus-trained bigram language-model quality score — the
    * CCNet/KenLM-style perplexity-proxy filter every pre-training
    * data pipeline runs (documents scoring far below the corpus norm
    * are boilerplate/gibberish candidates; far above, template spam).
    * The reference has no LM scorer; this extends the engine's
    * LLM-data-pipeline surface alongside txt_quality.
    *
    * Model: add-α smoothed bigram LM over whitespace tokens, trained
    * on the corpus itself: P(w2|w1) = (c(w1 w2) + α)/(c(w1·) + α·V),
    * V = distinct second-word vocabulary. Score = per-doc mean
    * ln P over bigram OCCURRENCES (multiplicity-weighted). Docs with
    * no bigram (≤ 1 token) are absent — the tfidf sparse contract.
    *
    * Scale shape: ONE tokenize+shingle pass (codegen'd TokenShingles)
    * feeds a map-side-combined (doc, bigram) count, and every model
    * statistic derives from THAT frame, not from re-scanning text:
    * bigram totals (bigram-keyed agg), context totals (first-word
    * agg of the bigram totals), vocabulary (a 1-row broadcast
    * scalar). The scoring join is a bigram-keyed equi-join between
    * the per-doc counts and the model — both sides shuffle once on
    * the same key; nothing touches the driver.
    */
  def lmScore(
      docs: DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, "alpha must be positive")
    val bg = docs.select(col(idCol),
      explode(TextFns.shinglesOfTokens(
        TextFns.wsTokens(col(textCol)), 2)).as("g"))
    // cached: the model statistics AND the scoring join read it
    val dbg = bg.groupBy(col(idCol), col("g"))
      .agg(count(lit(1)).as("cnt")).cache()
    // cached: context totals, vocabulary, and the prob table read it
    val cg = dbg.groupBy(col("g")).agg(sum(col("cnt")).as("c2"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .cache()
    val cw = cg.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vv = cg.agg(
      countDistinct(substring_index(col("g"), " ", -1))
        .cast("double").as("v"))
    val lp = cg.join(cw, Seq("w1")).crossJoin(broadcast(vv))
      .select(col("g"),
        log((col("c2") + lit(alpha)) /
          (col("c1") + lit(alpha) * col("v"))).as("logp"))
    dbg.join(lp, Seq("g"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_bigrams"),
        (sum(col("cnt") * col("logp")) / sum(col("cnt")).cast("double"))
          .as("alp"))
      .select(col(idCol), col("n_bigrams"),
        round(col("alp") + lit(1e-9), 6).as("avg_logprob"))
      .orderBy(col("avg_logprob"), col(idCol))
  }

  /** Global percentile band gate — the CCNet-style "keep the middle
    * of the score distribution" filter (drop the bottom tail as
    * gibberish, the top tail as template spam): thresholds are
    * DERIVED from the corpus's own score distribution, not
    * hand-tuned constants, so the gate self-calibrates as the
    * corpus mix shifts. Returns the kept rows with both cut values
    * attached (the audit columns a pipeline logs).
    *
    * Scale shape: the threshold aggregate is ONE 1-row reduction,
    * broadcast back over the scan — the corpus is read, never
    * shuffled. This EXACT form (`percentile`) buffers values per
    * partial aggregate, for oracle parity.
    *
    * Integer-valued scores make the gate robust to last-ulp
    * interpolation drift: a fractional threshold can only flip
    * membership if it lands exactly on an integer, where both
    * engines' lo + (hi-lo)·frac arithmetic is exact.
    */
  def percentileGate(
      scored: DataFrame, idCol: String, scoreCol: String,
      pLow: Double, pHigh: Double): DataFrame = {
    require(pLow >= 0 && pHigh <= 1 && pLow < pHigh,
      s"percentileGate: need 0 <= pLow < pHigh <= 1, got $pLow/$pHigh")
    val thr = scored.agg(
      expr(s"percentile($scoreCol, $pLow)").as("q_lo"),
      expr(s"percentile($scoreCol, $pHigh)").as("q_hi"))
    scored.crossJoin(broadcast(thr))
      .where(col(scoreCol).between(col("q_lo"), col("q_hi")))
      .select(col(idCol), col(scoreCol),
        round(col("q_lo") + lit(1e-9), 4).as("q_lo"),
        round(col("q_hi") + lit(1e-9), 4).as("q_hi"))
  }

  /** Per-stratum percentile band gate — the form CCNet actually
    * ships (per-LANGUAGE perplexity buckets): each stratum gets its
    * own distribution-derived cuts, so a language whose scores run
    * systematically low isn't wholesale-dropped by a global
    * threshold calibrated on the head language. Same contract as
    * `percentileGate` otherwise.
    *
    * Scale shape: the threshold frame is ONE |strata|-row aggregate
    * (exact percentile buffers per stratum partial, as in
    * `percentileGate`), broadcast back over the scan.
    */
  def percentileGateBy(
      scored: DataFrame, idCol: String, scoreCol: String,
      strataCol: String, pLow: Double, pHigh: Double): DataFrame = {
    require(pLow >= 0 && pHigh <= 1 && pLow < pHigh,
      s"percentileGateBy: need 0 <= pLow < pHigh <= 1, got $pLow/$pHigh")
    val thr = scored.groupBy(col(strataCol)).agg(
      expr(s"percentile($scoreCol, $pLow)").as("q_lo"),
      expr(s"percentile($scoreCol, $pHigh)").as("q_hi"))
    scored.join(broadcast(thr), Seq(strataCol))
      .where(col(scoreCol).between(col("q_lo"), col("q_hi")))
      .select(col(idCol), col(strataCol), col(scoreCol),
        round(col("q_lo") + lit(1e-9), 4).as("q_lo"),
        round(col("q_hi") + lit(1e-9), 4).as("q_hi"))
  }

  /** Cross-document boilerplate-gram mining: the top-K word n-grams
    * by DOCUMENT frequency (each doc votes once per distinct gram —
    * in-doc repetition is `repetition`'s job, not this one's), then
    * every document's coverage against that boilerplate set — the
    * headers/footers/navigation-chrome detector every web-corpus
    * pipeline runs before tokenization (docs dominated by corpus-
    * global grams are template chrome, not content).
    *
    * Scale shape: two corpus passes, irreducibly — a global top-K
    * cannot be known until the df pass completes. Pass 1:
    * distinct-grams-per-doc → map-side-combined df count → top-K via
    * ORDER BY df LIMIT k (TakeOrdered: per-partition heaps + driver
    * merge of K rows, never a global sort). Pass 2: re-derive the
    * per-doc grams (recompute beats caching a corpus-sized gram
    * frame) and probe the BROADCAST top set; per-doc rollup is one
    * map-side-combined aggregate. Ties at the df cut break by gram
    * (the repo's universal determinism rule).
    *
    * `maxTokensPerDoc` bounds BOTH passes' per-row gram arrays: a
    * pathological multi-GB document would otherwise materialize an
    * unbounded in-memory token/gram array per row in each pass (r14
    * advice — the same guard the shingle-family dedup ops carry via
    * their stop-shingle caps). Boilerplate chrome lives in headers/
    * footers/navigation — overwhelmingly in a document's head — so
    * truncating the tail changes which CONTENT grams a monster doc
    * contributes, not the chrome the operator mines.
    */
  def boilerplateGrams(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, topK: Int, maxTokensPerDoc: Int = 50000): DataFrame = {
    require(n >= 1 && topK >= 1,
      s"boilerplateGrams: need n >= 1 and topK >= 1, got $n/$topK")
    require(maxTokensPerDoc >= n,
      s"boilerplateGrams: maxTokensPerDoc ($maxTokensPerDoc) must be " +
        s">= n ($n) or no doc yields any gram")
    def docGrams = docs.select(col(idCol),
      explode(array_distinct(TextFns.shinglesOfTokens(
        slice(TextFns.wsTokens(col(textCol)), 1, maxTokensPerDoc), n)))
        .as("g"))
    val top = docGrams.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("g"))
      .limit(topK)
    docGrams
      .join(broadcast(top.select(col("g"), lit(1L).as("hit"))),
        Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_boiler"))
      .withColumn("boiler_ratio",
        round(col("n_boiler").cast("double") / col("n_grams")
          + lit(1e-9), 6))
  }

  def lensClassify(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def hits(kws: Seq[String]): Column = kws.map(w =>
      when(col(textCol).contains(w), 1).otherwise(0)).reduce(_ + _)
    val scored = docs.select(Seq(col(idCol)) ++ lenses.map {
      case (lens, kws) => hits(kws).as(s"${lens}_hits")
    }: _*)
    val Seq(p, e, d, s) = lenses.map { case (l, _) => col(s"${l}_hits") }
    val pred =
      when(p >= e && p >= d && p >= s, lenses(0)._1)
        .when(e >= d && e >= s, lenses(1)._1)
        .when(d >= s, lenses(2)._1)
        .otherwise(lenses(3)._1)
    scored.withColumn("lens", pred)
  }
}
