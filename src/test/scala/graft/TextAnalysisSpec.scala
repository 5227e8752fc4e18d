package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{array, concat_ws, element_at, lit, sequence, size, transform, when}

import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  /** HOF twin of `TextFns.shinglesOfTokens`: the `transform` over a
    * `sequence` the native TokenShingles replaced, kept as its
    * differential-testing reference.
    */
  private def shinglesOfTokensHof(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j))): _*)))
      .otherwise(array().cast("array<string>"))

  test("stats computes token/char/stopword counts") {
    val docs = Seq((1L, "the cat and the dog")).toDF("doc_id", "text")
    val r = TextAnalysis.stats(docs, "doc_id", "text").head()
    assert(r.getAs[Int]("n_tokens") == 5)
    assert(r.getAs[Int]("n_chars") == 19)
    assert(r.getAs[Int]("n_distinct") == 4)
    assert(r.getAs[Int]("n_stopwords") == 3) // the, and, the
    assert(r.getAs[Double]("stop_ratio") == 0.6)
  }

  test("qualityScore rewards mid-length diverse text") {
    val docs = Seq(
      (1L, ("interesting varied words " * 20).trim), // ~480 chars, diverse-ish
      (2L, "tiny")
    ).toDF("doc_id", "text")
    val q = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("quality")).toMap
    assert(q(1L) > q(2L))
  }

  test("languageId picks the language with most marker hits") {
    val docs = Seq(
      (1L, "the cat is on the mat and it is fine"),
      (2L, "der hund und die katze ist hier"),
      (3L, "le chat et la souris est ici")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.languageId(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "fr")
  }

  test("topKeywords filters stopwords and short tokens") {
    val docs = Seq((1L, "spark spark spark the with data data")).toDF("doc_id", "text")
    val kws = TextAnalysis.topKeywords(docs, "text", 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kws("spark") == 3)
    assert(kws("data") == 2)
    assert(!kws.contains("the") && !kws.contains("with"))
  }

  test("fingerprints are stable under whitespace normalization") {
    val docs = Seq(
      (1L, "alpha  beta\tgamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta")
    ).toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprints(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(fps(1L)._1 == fps(2L)._1) // content fp ignores whitespace runs
  }

  test("lensClassify assigns the dominant keyword lens") {
    val docs = Seq(
      (1L, "join hash merge sort scan plan"),
      (2L, "stream window batch flow")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lensClassify(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lens")).toMap
    assert(out(1L) == "execution")
    assert(out(2L) == "streaming")
  }

  test("native TokenShingles matches the HOF twin bit-for-bit") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFns
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "one two",              // fewer than n tokens -> empty
      "a b c",                // exactly n tokens -> one shingle
      "x x x x x",            // repeated tokens preserved in order
      ""                      // empty text
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"), TextFns.wsTokens(col("text")).as("tk"))
    for (n <- Seq(1, 3, 5)) {
      val native = docs.select(col("id"),
        TextFns.shinglesOfTokens(col("tk"), n).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val hof = docs.select(col("id"),
        shinglesOfTokensHof(col("tk"), n).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(native == hof, s"mismatch at n=$n")
    }
  }

  test("repetition reports dup/top token and top bigram fractions") {
    val docs = Seq(
      (1L, "a a a b"),   // top token a=3/4, bigrams: "a a"x2, "a b"x1
      (2L, "solo")       // single token -> no bigrams -> null frac
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_tokens") == 4L)
    assert(r1.getAs[Double]("dup_token_frac") == 0.5)    // 2 distinct of 4
    assert(r1.getAs[Double]("top_token_frac") == 0.75)
    assert(r1.getAs[Double]("top_bigram_frac") == 0.666667) // 2 of 3 slots
    val r2 = out(2L)
    assert(r2.getAs[Long]("n_tokens") == 1L)
    assert(r2.getAs[Double]("top_token_frac") == 1.0)
    assert(r2.isNullAt(r2.fieldIndex("top_bigram_frac")))
  }

  test("lmScore and sourceQuality are partition-invariant") {
    import spark.implicits._
    val docs = (1L to 40L).map { i =>
      (i, s"tok${i % 7} tok${i % 5} tok${i % 3} tok${i % 7} end",
        s"src${i % 4}", if (i % 3 == 0) "en" else "de")
    }.toDF("doc_id", "text", "source", "lang")
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val lm1 = TextAnalysis.lmScore(docs.repartition(7), "doc_id", "text")
    val lm2 = TextAnalysis.lmScore(docs.coalesce(1), "doc_id", "text")
    assert(canon(lm1.collect()) == canon(lm2.collect()))
    val sq1 = TextAnalysis.sourceQuality(
      docs.repartition(7), "doc_id", "text", "source", "lang")
    val sq2 = TextAnalysis.sourceQuality(
      docs.coalesce(1), "doc_id", "text", "source", "lang")
    assert(canon(sq1.collect()) == canon(sq2.collect()))
  }

  test("sourceQuality: dup rate, shares, and threshold decisions") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away to find some more interesting things to do today " +
      "with many other animals in the deep green forest near the river"
    val docs = Seq(
      // srcA: two distinct good docs -> keep
      (1L, good + " one", "srcA", "en"),
      (2L, good + " two", "srcA", "en"),
      // srcB: the same text twice (exact dup pair) + tiny junk docs
      // -> dup_rate 0.5 > 0.5 is false, but avg quality collapses
      (3L, "x", "srcB", "de"),
      (4L, "x", "srcB", "de"),
      (5L, "y z", "srcB", "en"),
      (6L, "w", "srcB", "fr"))
      .toDF("doc_id", "text", "source", "lang")
    val out = TextAnalysis.sourceQuality(
      docs, "doc_id", "text", "source", "lang")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("srcA")
    assert(a.getAs[Long]("n_docs") == 2L)
    assert(a.getAs[Double]("dup_rate") == 0.0)
    assert(a.getAs[Double]("en_share") == 1.0)
    assert(a.getAs[Double]("avg_quality") >= 40.0)
    assert(a.getAs[String]("decision") == "keep")
    val b = out("srcB")
    assert(b.getAs[Long]("n_docs") == 4L)
    // docs 3 and 4 share a hash -> 2 of 4 docs are dups
    assert(b.getAs[Double]("dup_rate") == 0.5)
    assert(b.getAs[Double]("en_share") == 0.25)
    // quality: n_chars <= 100 (0) + tokens < 20 (5) + stop 0 + div 15
    assert(b.getAs[Double]("avg_quality") == 20.0)
    assert(b.getAs[String]("decision") == "drop")
  }

  test("lmScore: hand-computed add-alpha bigram log-probs") {
    import spark.implicits._
    // corpus bigrams: "a b" x3 (docs 1,1,2), "b a" x1 (doc 1)
    // contexts: c1(a)=3, c1(b)=1; vocab V = |{b, a}| = 2; alpha=0.5
    // P(b|a) = 3.5/4 = 0.875; P(a|b) = 1.5/2 = 0.75
    val docs = Seq(
      (1L, "a b a b"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(docs, "doc_id", "text", alpha = 0.5)
      .collect()
    // doc 3 has no bigram -> absent (sparse contract)
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L))
    val m = out.map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getLong(1) == 3L)
    assert(m(2L).getLong(1) == 1L)
    val lnPba = math.log(0.875); val lnPab = math.log(0.75)
    assert(math.abs(
      m(1L).getDouble(2) - (2 * lnPba + lnPab) / 3.0) < 1e-5)
    assert(math.abs(m(2L).getDouble(2) - lnPba) < 1e-5)
    // worst (most negative) first
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("percentileGate keeps the middle band; the approx twin stays " +
    "in its envelope") {
    val scored = (1 to 100).map(i => (i.toLong, i.toLong))
      .toDF("doc_id", "score")
    val exact = TextAnalysis
      .percentileGate(scored, "doc_id", "score", 0.25, 0.95).collect()
    // percentile over 1..100: 0.25 → 25.75, 0.95 → 95.05 (linear
    // interpolation), so kept = 26..95 = 70 rows
    assert(exact.length == 70)
    assert(exact.forall(r =>
      r.getAs[Long]("score") >= 26 && r.getAs[Long]("score") <= 95))
    assert(exact.head.getAs[Double]("q_lo") == 25.75)
    assert(exact.head.getAs[Double]("q_hi") == 95.05)
    // the GK sketch returns actual elements (no interpolation), so
    // the cuts may sit one value off — pin the envelope, not equality
    val approx = TextAnalysis
      .percentileGateApprox(scored, "doc_id", "score", 0.25, 0.95)
      .collect()
    assert(math.abs(approx.length - exact.length) <= 2,
      s"approx kept ${approx.length} vs exact ${exact.length}")
    assert(math.abs(approx.head.getAs[Double]("q_lo") - 25.75) <= 1.0)
    assert(math.abs(approx.head.getAs[Double]("q_hi") - 95.05) <= 1.0)
    intercept[IllegalArgumentException] {
      TextAnalysis.percentileGate(scored, "doc_id", "score", 0.9, 0.1)
    }
  }

  test("percentileGateBy derives per-stratum cuts; the global gate " +
    "on the same data skews against the low-scoring stratum") {
    // stratum a scores 1..100; stratum b scores 1001..1100 (a
    // systematically lower-scoring language)
    val scored = ((1 to 100).map(i => (i.toLong, "a", i.toLong)) ++
      (1 to 100).map(i => (100L + i, "b", 1000L + i)))
      .toDF("doc_id", "s", "score")
    val strat = TextAnalysis
      .percentileGateBy(scored, "doc_id", "score", "s", 0.25, 0.95)
      .collect()
    val byS = strat.groupBy(_.getString(1))
    // each stratum keeps ITS OWN middle band: 70 rows each
    assert(byS("a").length == 70 && byS("b").length == 70)
    assert(byS("a").head.getAs[Double]("q_lo") == 25.75)
    assert(byS("b").head.getAs[Double]("q_lo") == 1025.75)
    // the global gate's head-calibrated cuts (50.75 / 1090.05) keep
    // only 50 of stratum a vs 90 of b — the skew the stratified
    // form exists to remove
    val global = TextAnalysis
      .percentileGate(scored, "doc_id", "score", 0.25, 0.95)
      .collect()
    val ga = global.count(_.getAs[Long]("score") <= 100)
    val gb = global.count(_.getAs[Long]("score") > 1000)
    assert(ga == 50 && gb == 90, s"global kept a=$ga b=$gb")
  }

  test("boilerplateGrams flags corpus-global grams by document " +
    "frequency, not in-doc repetition") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown cat sleeps"),
      (3L, "the quick brown dog barks"),
      (4L, "totally unique words here now")
    ).toDF("doc_id", "text")
    // df('the quick brown') = 3, every other 3-gram df = 1 → topK=1
    // selects exactly it (ties below the cut can't displace it)
    val out = TextAnalysis
      .boilerplateGrams(docs, "doc_id", "text", n = 3, topK = 1)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_grams") == 3L)
    assert(out(1L).getAs[Long]("n_boiler") == 1L)
    assert(out(1L).getAs[Double]("boiler_ratio") == 0.333333)
    assert(out(4L).getAs[Long]("n_boiler") == 0L)
    assert(out(4L).getAs[Double]("boiler_ratio") == 0.0)
    assert(out.size == 4)
  }
}
