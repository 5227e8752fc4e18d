package graft

/** Pins the graft.Caching contract: operators that cache() internal
  * self-join inputs leave those blocks cached (by design — the cache
  * must outlive the caller's action on the returned lazy plan), and
  * ONE clearOperatorCaches call after the action leaves zero net
  * cached plans. Runs the caching operators through their real
  * SparkEntry bindings so the spec exercises exactly what the
  * Verify/Bench loops run.
  */
class CacheLifecycleSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  /** Every SparkEntry query whose operator caches an internal frame
    * (grep `.cache()` in operators/ + EmbedQueries): one per caching
    * code path. (Bm25.score caches nothing; SearchSpec's plan pin
    * holds it to that, so bm25_search is not listed.)
    */
  private val cachingQueries = Seq(
    "dedup_exact", // Dedup via shared shingle cache paths: none — control
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_ngram_prefix",
    "dedup_simhash", "dedup_embcos", "dedup_embcos_mb",
    "pack_shards", "vs_similar_papers",
    "deg_network", "deg_hub", "sc_markers", "deg_validate",
    "emb_tfidf_topk", "ev_funnel", "decontam_ngram",
    "dedup_cluster", "rerank_fused",
    "deg_centrality", // Stats.centrality's deg cache (r10)
    "txt_lm_score", // lmScore's dbg + cg caches (r10)
    "dedup_incremental", // incrementalLsh's index/cand/shingle caches (r12)
    "dedup_semantic", // semanticDedup's assigned + pruned caches (r12)
    "corpus_dsir", // dsirLogWeights' model + per-doc count caches (r12)
    "ev_transitions", // transitionMatrix's matrix cache (r14)
    "mix_temperature", // mixTemperature's weighted-counts cache (r14)
    "proj_pca2d") // pca2d coords + pca2dSignedTo joined caches (r16)

  test("each caching operator leaves zero net cached plans after the " +
    "documented lifecycle call") {
    val qs = SparkEntry.queries
    cachingQueries.foreach { name =>
      assert(qs.contains(name), s"unknown query $name")
      Caching.clearOperatorCaches(spark) // clean slate per operator
      qs(name)(spark, d).collect()
      Caching.clearOperatorCaches(spark)
      assert(Caching.noCachedPlans(spark),
        s"$name: cached plans survive clearOperatorCaches")
    }
  }

  test("caching operators DO cache (the contract is load-bearing, " +
    "not vacuous)") {
    Caching.clearOperatorCaches(spark)
    SparkEntry.queries("dedup_minhash_lsh")(spark, d).collect()
    assert(!Caching.noCachedPlans(spark),
      "expected dedup_minhash_lsh to hold cached internal frames " +
        "after its action — did its caching strategy change?")
    Caching.clearOperatorCaches(spark)
    assert(Caching.noCachedPlans(spark))
  }

  test("interleaved pipelines: a concurrent clear costs recompute, " +
    "never correctness") {
    // The contract is ONE active pipeline per SparkContext: the cache
    // manager is SHARED STATE (even spark.newSession() sessions share
    // it), so pipeline B's lifecycle clear unpersists pipeline A's
    // internal frames mid-flight. This pins the FAILURE MODE of
    // violating the contract: the victim's plan recomputes the
    // unpersisted frames from lineage — each self-join side pays the
    // upstream pipeline again (the cost the cache existed to avoid) —
    // but the ROWS are identical. Performance degradation, not wrong
    // results.
    Caching.clearOperatorCaches(spark)
    val isolatedA = SparkEntry.queries("dedup_minhash_lsh")(spark, d)
      .collect().map(_.toString).sorted
    Caching.clearOperatorCaches(spark)

    // pipeline A: plan built (its internal cache() calls registered)…
    val planA = SparkEntry.queries("dedup_minhash_lsh")(spark, d)
    // …pipeline B runs its full documented lifecycle in between,
    // clearing EVERY cached plan in the context, A's internals
    // included
    SparkEntry.queries("vs_centroid_sim")(spark, d).collect()
    Caching.clearOperatorCaches(spark)
    assert(Caching.noCachedPlans(spark))
    // A's action after the hostile clear: full recompute, same rows
    val interleavedA = planA.collect().map(_.toString).sorted
    assert(interleavedA.sameElements(isolatedA),
      "interleaved clear changed dedup_minhash_lsh's ROWS — the " +
        "cache must be a pure performance hint")
    Caching.clearOperatorCaches(spark)
  }
}
