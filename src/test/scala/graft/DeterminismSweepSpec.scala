package graft

/** Partitioning-invariance sweep: evaluate the nondeterminism-prone
  * queries under two different shuffle-partition counts and require
  * byte-identical row sequences. Partial-aggregation merge order, window
  * tie-breaks, and collect_list buffer order all change with the
  * partition count — any query whose result depends on them fails here
  * before it flakes in the driver's hash compare. (The per-operator
  * specs prove this property locally; this sweep proves it end-to-end
  * on the exact driver-contract queries.)
  */
class DeterminismSweepSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // windows with tie-break ordering, ordered double folds, collect_list/
  // collect_set shapes, iterative CC, driver-paced kmeans — the surface
  // where partitioning could leak into results
  private val risky = Seq(
    "q12_running_balance", "q13_stock_points", "q16_token_stats",
    "q47_doc_ranks", "q55_quantiles_cont", "q59_trailing_24h",
    "q65_seq_packing", "q67_token_diversity", "q68_shard_assign",
    "q70_label_centroids", "q71_kmeans", "q45_dedup_clusters",
    "q72_fuzzy_contam",
    // the r7 newcomers that emit doubles or order-sensitive shapes:
    // span reassembly order (q76), per-doc ordered probability fold
    // (q77), sqrt-weight normalizer fold (q78), per-cluster rank
    // windows (q79), signature match fractions (q80), per-row distance
    // sort + memoized fit (q81), sketch-then-exact recount (q82), and
    // the index-screened delta pairs (q74)
    "q74_delta_minhash", "q76_span_dedup", "q77_unigram_likelihood",
    "q78_mixture_weights", "q79_prototype_prune", "q80_minhash_estimate",
    "q81_ivf_kmeans", "q82_cms_heavy_hitters", "q83_ivf_pq",
    "q84_delta_bloom",
    // r8 newcomers: per-doc window minima + distinct (q85), fingerprint
    // pair ratios (q86), banding-recalled best-match windows (q87)
    "q85_winnow_fingerprints", "q86_winnow_pairs", "q87_split_leakage",
    // r9: index-screened winnow delta pairs (q88); frozen-fit ADC
    // search + exact re-rank over the at-rest codes (q89)
    "q88_delta_winnow", "q89_delta_ann",
    // r10: hash-ordered bottom-k sample + rank-select quantiles (q90);
    // per-node in-neighbor-ordered contribution folds (q91); per-doc
    // interpolated-probability folds (q92); exact-integer power-sum
    // regression — the one double family that is order-free by
    // construction, swept to prove it (q93)
    "q90_sample_quantiles", "q91_pagerank", "q92_bigram_lm",
    "q93_length_fit",
    // top-k cut by a double score — the (lift, prev, cur) total order
    // must make the boundary partition-invariant (q94)
    "q94_collocations",
    // iterated top-1 cuts by (count, pair) — four successive argmaxes,
    // each a total order over exact integers, and every later round's
    // counts depend on the earlier cut landing identically (q95);
    // exact-integer L1 products with the lone final division (q96)
    "q95_bpe_merges", "q96_source_drift",
    // the apply half rides the same four argmax cuts, then one exact
    // integer ratio per doc (q97)
    "q97_bpe_segment",
    // pair counts from a guarded self-join + a single containment
    // division (q98)
    "q98_source_overlap",
    // degree-oriented wedge enumeration — the (deg, id) orientation and
    // the one-wedge-per-triangle theorem must hold under any
    // partitioning; all integers (q99)
    "q99_triangle_count",
    // windowed-pair top-k cut by a double lift — the (lift, a, b) total
    // order must make the boundary partition-invariant (the q94 shape
    // one window out) (q100)
    "q100_cooc_lift",
    // per-user packed-integer sequence fold — the sorted event array
    // and the pure-integer chain state must land identically under any
    // partitioning (q101)
    "q101_window_funnel",
    // basket-pair top-k cut by a double lift over exact integer counts
    // — the (lift, pa, pb) total order at the boundary (q102)
    "q102_basket_lift",
    // the secondary-sort carry fold must not depend on partition count
    // or row arrival order — the in-partition (user, x) sort is the
    // only order source (q103)
    "q103_funnel_prod",
    // double retention/probability at the sort boundary is a ratio of
    // exact integers — identical under any partitioning; the keys are
    // total orders (q104/q105)
    "q104_retention_cohorts",
    "q105_session_transitions",
    // chained min-aggs and one ratio — partition-count invariant (q106)
    "q106_sequence_convert",
    // all-integer running sums; the tie multiset argument makes the daily
    // max partition- and order-invariant (q107)
    "q107_peak_concurrency",
    // register maxima are idempotent/commutative; one exact-integer
    // division target (q108); the delta merge is the same max algebra
    // over an at-rest side (q109)
    "q108_hll_distinct",
    "q109_delta_hll",
    // peel is a monotone set fixpoint — partition-order free; counts are
    // exact integers (q110)
    "q110_kcore",
    // boundary VALUES are rank-selected (tie-permutation invariant) and
    // scores compare values, never row order; money in exact integer
    // cents end-to-end (q111)
    "q111_rfm_segments",
    // membership is a value comparison against a rank-selected threshold
    // over a UNIQUE (hash, doc_id) key — no tie to permute (q112)
    "q112_quota_sample",
    // at-rest ∪ batch merge: min-agg first days, distinct activations,
    // exact integer cells — the q104 determinism argument over the
    // incremental physical shape (q113)
    "q113_delta_retention",
    // the q112 argument plus: apportionment ranks a |sources|-row frame
    // by (frac, source) total order over bit-stable doubles (q114)
    "q114_mix_quota_sample",
    // at-rest delta ledger + carry-prepended lag window: exact integer
    // cells, (ts, event_id) total order — the q105 argument over the
    // incremental shape (q115)
    "q115_delta_transitions",
    // the q111 argument with lang as the group key: rank-selected
    // boundary values over tie-collapsed integer counts (q116)
    "q116_grouped_quantiles",
    // two-tier prefix sums over a UNIQUE (hash, doc_id) order + pure
    // integer threshold arithmetic — the q112 argument in weight space
    // (q117)
    "q117_pps_sample",
    // rank-selected clip bounds over tie-collapsed counts, an exact
    // integer clipped sum, and one final IEEE division of two exact
    // BIGINTs (q118)
    "q118_winsorized_stats",
    // at-rest histogram ∪ batch delta: additive integer counts into the
    // q116 argument — the q113 determinism shape for order statistics
    // (q119)
    "q119_delta_quantiles",
    // the same ledger marginalized the other way into the q118
    // argument: clip bounds rank-selected, clipped sum exact integer,
    // one final IEEE division (q120)
    "q120_delta_winsorized",
    // selection by value comparison against rank-selected distinct-value
    // cuts — dense-rank semantics with no window, all exact integers
    // (q121)
    "q121_topk_unbounded",
    // the dispatchers: a 1-row stats scalar picks a branch, and both
    // branches are themselves swept members — swept to prove the
    // dispatch layer adds no order sensitivity of its own (q122/q123)
    "q122_quantiles_auto", "q123_topk_auto",
    // the typed Aggregator rides partial aggregation: reduce/merge must
    // land the identical bottom-k sample under any merge tree (q124)
    "q124_sketch_quantiles",
    // window marginals over the merged cube + one final division of
    // exact decimals — the q96 determinism argument over the
    // incremental shape at full grain (q125)
    "q125_delta_drift",
    // the q119 argument over a ledger holding NEGATIVE retraction
    // deltas: additive integer counts, the Σnv≠0 filter, rank-selected
    // cuts (q126)
    "q126_retract_quantiles",
    // the q74 argument over a RETRACTED band index: index-screened
    // delta pairs off swapped tables (q127)
    "q127_retract_minhash",
    // the q113 argument over a USER-RETRACTED retention index: per-user
    // swapped tables are bare scans, the read is two keyed aggs (q128)
    "q128_retract_retention")

  // every memoized fit/index rebuilds per partition config — a memo hit
  // would hide partition sensitivity in the memoized stage itself
  private def clearMemos(): Unit = {
    graft.operators.Graph.clearMemo(spark)
    graft.operators.Similarity.clearKmeansMemo(spark)
    graft.FixtureRoots.clear(spark)
    graft.operators.Dedup.clearCorpusBloom(spark)
    graft.operators.Analytics.clearDispatchMemo(spark)
    // CacheManager matches by logical plan, so a cached winnow index
    // built under one partition count would serve the other verbatim —
    // evict it so q85/q86 genuinely recompute (unpersist resolves the
    // rebuilt plan against the cache registry)
    graft.operators.Dedup.winnowFingerprintsOf(Tables.documents(spark, dir))
      .unpersist()
    // same CacheManager plan-match eviction for the shared bigram model
    // (q92/q94 would otherwise serve one partition config to the other)
    graft.operators.TextOps.bigramCounts(spark, dir).unpersist()
    // ... and for the shared shingle index, which q22/q74/q80/q84/q98's
    // whole plans ride — without this the 5-partition evaluation reuses
    // the 2-partition-built InMemoryRelation and the sweep can't see
    // partition sensitivity in the build/distinct stage
    graft.operators.Dedup.shingleIndex(spark, dir).unpersist()
    TransientCache.drain()
    ()
  }

  private def evalWith(partitions: Int, name: String): Seq[String] = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    try SparkEntry.queries(name)(spark, dir).collect().toSeq.map(_.toString)
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("risky queries are byte-identical under 2 vs 5 shuffle partitions") {
    clearMemos()
    risky.foreach { name =>
      val a = evalWith(2, name)
      clearMemos()
      val b = evalWith(5, name)
      assert(a.nonEmpty, s"$name returned no rows")
      assert(a == b, s"$name differs across partition counts " +
        s"(first diff: ${a.zip(b).indexWhere { case (x, y) => x != y }})")
      clearMemos()
    }
  }
}
