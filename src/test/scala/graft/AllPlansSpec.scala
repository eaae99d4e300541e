package graft

/** Blanket physical-plan guard over EVERY registered query: no plan may
  * contain a CartesianProduct, and BroadcastNestedLoopJoin is allowed only
  * on the allowlisted queries whose cross side is a scalar or
  * centroid-table by construction (O(1)/O(k) rows — documented in each
  * query's scaladoc). A new query that accidentally plans a cartesian or
  * an unkeyed join fails here before any benchmark or scale run sees it.
  * The same loop compiles every whole-stage subtree and fails if one has a
  * method over HotSpot's 8000-byte limit while the session's
  * `hugeMethodLimit` would keep it (it would then run interpreted).
  */
class AllPlansSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Queries whose plan legitimately carries a BroadcastNestedLoopJoin:
    * the broadcast side is a single-row aggregate (corpus doc count,
    * global threshold, split boundary) or a fixed centroid table. */
  private val bnlAllowed: Set[String] = Set(
    // 1-row aggregate cross side (doc/user count, corpus max, dup scalar,
    // BM25 corpus stats, bloom set-bit positions):
    // (sim_ann_recall left this list in r15: its four legs pin their
    // probe-sized outputs during construction, so the registered plan is
    // scans + one broadcast left join — no scalar crossJoin remains)
    "text_tfidf", "text_logprob", "user_rfm", "dq_checks", "assoc_pairs",
    "corpus_mixture", "text_bm25", "decontam_bloom",
    "corpus_colloc", "text_logprob_bigram",
    // 1-row cross side: DSIR's (target total, raw total, vocab size) scalars
    "corpus_dsir",
    // 1-row cross side: chi2's (base total, current total) scalars
    "drift_chi2",
    // 1-row cross side: q22's (positive-balance total, count) scalars
    "q22_wealthy_idle",
    // 1-row cross side: q11's (global value total, part count) scalars.
    // q15's max-revenue crossJoin is NOT here: its equality filter
    // collapses into an equi BroadcastHashJoin at planning time.
    "q11_important_parts",
    // 1-row cross side: arm totals (abtest), corpus min/max span (churn),
    // Σ√n normalizer (temperature), joint total (MI), score range (ROC)
    "abtest_ztest", "user_churn", "corpus_temperature", "events_mi", "ml_roc",
    // text_keywords ranks the tfidf output, inheriting its n_docs scalar
    "text_keywords",
    // dedup_cross_source densifies over the |sources|^2 pair grid (<=400)
    "dedup_cross_source",
    // retention_survival broadcasts the 1-row observation-end scalar
    "retention_survival",
    // ml_ndcg crosses its two 1-row DCG/IDCG aggregates
    "ml_ndcg",
    // graph_modularity broadcasts the 1-row total-edge-count scalar
    "graph_modularity",
    // NOTE: graph_hits left this list in r15 — the L1 scalar is now an
    // eager per-half-step aggregate divided in as a literal, so no scalar
    // crossJoin remains in the registered plan.
    // emb_whiten broadcasts the 1-row per-dimension stats arrays
    "emb_whiten",
    // events_acf broadcasts the 1-row global power-sum scalars
    "events_acf",
    // text_langid_ngram crosses the O(langs) candidate list (5 rows)
    "text_langid_ngram",
    // user_pareto broadcasts the 1-row total-event scalar
    "user_pareto",
    // NOTE: quality_perplexity_buckets inherits textLogprobBigram's vocab
    // scalar, but its scored frame localCheckpoints during construction,
    // so the registered plan is an RDD scan — nothing to allowlist.
    // NOTE: graph_pagerank_directed's per-round dangling-mass crossJoin is
    // a BNLJ inside each round's plan, but rounds materialize eagerly via
    // localCheckpoint during query construction, so the registered query's
    // executedPlan is an RDD scan — nothing to allowlist.
    // broadcast centroid / probe tables (16 / 10 rows by construction):
    // sim_ann_ivf / sim_ann_pq / sim_neardup left this list when ivfAssign
    // switched to trained (checkpointed) centroids — their crossJoins now
    // materialize at construction time, outside the inspected plan
    "sim_label_centroids", "sim_topk",
    "sim_mips", "sim_hard_negatives",
    // sim_matryoshka is four sim_topk-class scans (10-row probe broadcast)
    "sim_matryoshka",
    // events_hll_sliding range-joins the O(calendar-days) broadcast day
    // list twice (register re-max + exact yardstick)
    "events_hll_sliding", "events_quantile_sliding",
    // corpus_vocab_overlap builds the source-pair grid (O(|sources|^2)
    // <= 400 rows) with a broadcast < self-join, like dedup_cross_source
    "corpus_vocab_overlap")

  test("no registered query plans a CartesianProduct; BNLJ only on scalar-side allowlist") {
    val offenders = scala.collection.mutable.ListBuffer[String]()
    val bnlSeen = scala.collection.mutable.Set[String]()
    val hugeStages = scala.collection.mutable.ListBuffer[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val executed =
        try fn(spark, dir).queryExecution.executedPlan
        catch { case e: Throwable => fail(s"$name failed to plan: ${e.getMessage}") }
      val plan = executed.toString
      // whole-stage methods HotSpot would refuse to JIT-compile
      val huge = CodegenSpec.maxMethodSizes(executed).filter(_ > CodegenSpec.HotSpotLimit)
      if (huge.nonEmpty) hugeStages += s"$name (${huge.sorted.mkString(", ")} bytes)"
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin")) {
        bnlSeen += name
        if (!bnlAllowed(name)) offenders += s"$name: BroadcastNestedLoopJoin (not allowlisted)"
      }
      // shuffle-count ceiling: today's registry maxes at 16 shuffle
      // Exchanges (sim_ann_recall — exact truth + ANN + compare in one
      // plan); a query suddenly planning more than 18 is an accidental
      // per-column/per-item shuffle explosion, not a new workload
      val shuffles = "(?m)^\\s*(?:[+:|\\-]*\\s*)*Exchange ".r
        .findAllIn(plan).size
      if (shuffles > 18)
        offenders += s"$name: $shuffles shuffle Exchanges (> 18 ceiling)"
    }
    assert(offenders.isEmpty, s"plan guard violations:\n  ${offenders.mkString("\n  ")}")
    info(s"${hugeStages.size} queries with a whole-stage method over " +
      s"${CodegenSpec.HotSpotLimit} bytes: ${hugeStages.mkString("; ")}")
    assert(hugeStages.isEmpty || CodegenSpec.sessionLimit(spark) <= CodegenSpec.HotSpotLimit,
      s"hugeMethodLimit ${CodegenSpec.sessionLimit(spark)} lets these run interpreted: " +
        hugeStages.mkString("; "))
    // the allowlist must stay exact — a stale entry would mask a future
    // regression on that query
    val stale = bnlAllowed -- bnlSeen
    assert(stale.isEmpty, s"allowlisted but no BNLJ in plan (remove): ${stale.toSeq.sorted.mkString(", ")}")
  }
}
