package graft.oracle

/** Spark-dialect SQL surface for the registered queries.
  *
  * The oracle statements in [[OracleSql]]/[[TextSimSql]] are written for
  * DuckDB (the cross-engine correctness gate). Most of them are ANSI
  * enough to run on `spark.sql` unchanged; the rest differ only in
  * PARSER-level tokens (DuckDB's bare `VARCHAR`, the `//` integer-division
  * operator, `IGNORE NULLS` inside the call parens) or in routine NAMES
  * (`epoch_us` vs `unix_micros`). [[dialect]] bridges exactly those
  * mechanical gaps, so one statement text serves both engines; queries
  * whose oracle uses genuinely DuckDB-only constructs (list literals,
  * in-aggregate ORDER BY, recursive-CTE replays of window recurrences)
  * get a hand-written Spark statement in [[overrides]] instead.
  *
  * The contract for every statement this object serves: byte-for-byte
  * value equality with the registered DataFrame plan, enforced by
  * SqlParitySpec over the curated [[covered]] list — a SQL user and a
  * DataFrame user of the engine get the same rows.
  */
object SparkSql {

  /** Mechanical DuckDB→Spark dialect bridge. Every rule is a parser-level
    * or routine-name substitution with identical semantics on the oracle
    * corpus (value equality is separately enforced per query by
    * SqlParitySpec — a rule that ever changed a value would fail there):
    *  - `AS MATERIALIZED` — DuckDB CTE-inlining hint, semantically void.
    *  - bare `VARCHAR` — Spark's parser demands a length; STRING is the
    *    same type.
    *  - (`epoch_us` is bridged as a registered compat FUNCTION in
    *    GraftExtensions, not text — it must cast TIMESTAMP_NTZ inputs
    *    before unix_micros.)
    *  - ` // ` → ` div ` — integer division operator.
    *  - `x IGNORE NULLS)` → `x) IGNORE NULLS` — same window modifier,
    *    Spark wants it outside the call parens.
    */
  def dialect(sql: String): String = {
    val textual = sql
      .replace(" AS MATERIALIZED (", " AS (")
    .replace(" AS VARCHAR)", " AS STRING)")
    // DuckDB array-type spelling in casts: T[] → ARRAY<T>
    .replace(" AS DOUBLE[])", " AS ARRAY<DOUBLE>)")
    .replace(" AS VARCHAR[])", " AS ARRAY<STRING>)")
    // typed empty-list literal (before bracketLiterals sees the `[]`)
    .replace("[]::VARCHAR[]", "CAST(array() AS ARRAY<STRING>)")
    // DuckDB double-quoted identifier (reserved-word alias) → backticks
    .replace(""" AS "rank"""", " AS `rank`")
    // DuckDB quoted datepart → Spark's unquoted unit keyword
    .replace("date_diff('day', ", "date_diff(DAY, ")
    .replace("datediff('day', ", "date_diff(DAY, ")
    .replace(" // ", " div ")
    .replace(" IGNORE NULLS)", ") IGNORE NULLS")
    // DuckDB hex decode: ('0x' || H)::BIGINT — Spark's CAST does not read
    // 0x strings, so route through the engine's hex_to_long compat
    // function (conv(H, 16, 10)). The two replacements are a pair: the
    // first consumes the idiom's opening, the second its `)::BIGINT`
    // close (every `)::BIGINT` in the corpus is this idiom)
    .replace("('0x' || ", "(hex_to_long(")
    .replace(")::BIGINT", "))")
      // DuckDB's regexp_replace global flag — Spark's regexp_replace is
      // global already (its optional 4th arg means position, not flags)
      .replace(", 'g')", ")")
    val enc = // DuckDB 1-arg encode(): VARCHAR → UTF-8 BLOB
      raw"(?<![\w.])encode\((\w+)\)".r.replaceAllIn(textual,
        m => java.util.regex.Matcher.quoteReplacement(
          s"encode(${m.group(1)}, 'UTF-8')"))
    listLiterals(parenIndexing(indexing(slices(
      orderedLists(laterals(hexDigits(extracts(bracketLiterals(enc)))))))))
  }

  /** Field/function spellings with exact Spark twins: `isodow` (Mon=1) is
    * `weekday()+1`; DuckDB's multi-argument `grouping(a, b)` bitmask is
    * Spark's `grouping_id(a, b)`. */
  private def extracts(sql: String): String = {
    val iso = raw"(?i)EXTRACT\(isodow FROM ([^)]+)\)".r
      .replaceAllIn(sql, m => java.util.regex.Matcher.quoteReplacement(
        s"(weekday(${m.group(1)}) + 1)"))
    raw"(?i)GROUPING\(([^()]*,[^()]*)\)".r.replaceAllIn(iso,
      m => java.util.regex.Matcher.quoteReplacement(s"grouping_id(${m.group(1)})"))
  }

  /** The md5-hex→integer digit fold `(instr('0123456789abcdef', X) - 1)
    * * 16^k`: DuckDB's instr returns BIGINT so the fold stays exact, but
    * Spark's returns INT and the 16^k multiply overflows 32 bits — widen
    * the digit before the arithmetic. */
  private def hexDigits(sql: String): String =
    raw"\(instr\('0123456789abcdef', (substring\([^)]*\))\) - 1\)".r
      .replaceAllIn(sql, m => java.util.regex.Matcher.quoteReplacement(
        s"(CAST(instr('0123456789abcdef', ${m.group(1)}) - 1 AS BIGINT))"))

  /** `FROM rel, UNNEST(listexpr) alias(col)` → Spark's
    * `FROM rel LATERAL VIEW explode(listexpr) alias AS col` (the corpus
    * writes the lateral clause to end its line, so a line-anchored greedy
    * match captures the full list expression; the range/generate_series
    * inside resolve through the compat function registry). */
  private def laterals(sql: String): String =
    raw"(?m), UNNEST\((.*)\) (\w+)\((\w+)\)\s*$$".r
      .replaceAllIn(sql, m => java.util.regex.Matcher.quoteReplacement(
        s" LATERAL VIEW explode(${m.group(1)}) ${m.group(2)} AS ${m.group(3)}"))

  /** Positions inside single-quoted SQL string literals ('' escapes) —
    * every structural scanner below must ignore brackets/parens/keywords
    * that sit inside literal text (regex char classes `'[a-z0-9 ]'`, JSON
    * paths `'$[0]'`, paren characters in replace() targets). */
  private def quotedMask(s: String): Array[Boolean] = {
    val in = new Array[Boolean](s.length)
    var q = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!q && c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        // `--` line comment: mask to end of line (an apostrophe inside a
        // comment must not open a string)
        while (i < s.length && s.charAt(i) != '\n') { in(i) = true; i += 1 }
      } else {
        if (c == '\'') { in(i) = true; q = !q }
        else in(i) = q
        i += 1
      }
    }
    in
  }

  /** First index of `needle` in `s` at paren depth 0 outside quotes, or -1. */
  private def topLevelIndex(s: String, needle: String): Int = {
    val quoted = quotedMask(s)
    var depth = 0
    var i = 0
    while (i <= s.length - needle.length) {
      val c = s.charAt(i)
      if (!quoted(i)) {
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        if (depth == 0 && s.startsWith(needle, i)) return i
      }
      i += 1
    }
    -1
  }

  /** Rewrite every `fn(inner)` call whose TOP-LEVEL inner text contains
    * ` ORDER BY ` — balanced-paren scan, because the corpus nests calls
    * (`list(sqrt(CAST(x AS DOUBLE)) ORDER BY k)`) regexes can't see.
    * `rw(valuePart, orderPart)` produces the replacement call text. */
  private def rewriteOrderedCall(sql: String, fn: String)(
      rw: (String, String) => String): String = {
    val quoted = quotedMask(sql)
    val token = fn + "("
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val j = sql.indexOf(token, i)
      if (j < 0) { out.append(sql.substring(i)); i = sql.length }
      else if (quoted(j) ||
          (j > 0 && (sql.charAt(j - 1).isLetterOrDigit || sql.charAt(j - 1) == '_'))) {
        out.append(sql.substring(i, j + token.length)); i = j + token.length
      } else {
        out.append(sql.substring(i, j))
        var k = j + token.length
        var depth = 1
        while (depth > 0 && k < sql.length) {
          val c = sql.charAt(k)
          if (!quoted(k)) {
            if (c == '(') depth += 1 else if (c == ')') depth -= 1
          }
          k += 1
        }
        if (depth > 0) throw new IllegalArgumentException(
          s"unbalanced parens scanning $fn(...) near: ${sql.substring(j, math.min(j + 80, sql.length))}")
        val inner = sql.substring(j + token.length, k - 1)
        val ob = topLevelIndex(inner, " ORDER BY ")
        if (ob < 0) out.append(token).append(inner).append(")")
        else out.append(rw(inner.substring(0, ob), inner.substring(ob + 10)))
        i = k
      }
    }
    out.toString
  }

  /** DuckDB's in-aggregate ORDER BY:
    *  - `list(x ORDER BY k1, k2…)` → sort structs on the keys, strip them.
    *    Both engines break exact ties identically here because the struct
    *    comparison falls through to the VALUE after the keys — and the
    *    corpus orders by keys that determine the value anyway.
    *  - `string_agg(v, sep ORDER BY k)` → Spark 4's
    *    `listagg(v, sep) WITHIN GROUP (ORDER BY k)` (same null-skipping).
    * Applied to fixpoint so nested occurrences rewrite too. */
  private def orderedLists(sql: String): String = {
    val one = rewriteOrderedCall(sql, "list") { (v, keys) =>
      val ks = splitTopLevel(keys).zipWithIndex
        .map { case (k, n) => s"$k AS _o$n" }.mkString(", ")
      s"transform(array_sort(collect_list(struct($ks, $v AS _v))), s -> s._v)"
    }
    val two = rewriteOrderedCall(one, "string_agg") { (args, key) =>
      s"listagg($args) WITHIN GROUP (ORDER BY $key)"
    }
    if (two == sql) sql else orderedLists(two)
  }

  /** Split on top-level commas. */
  private def splitTopLevel(s: String): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    for (i <- s.indices) {
      val c = s.charAt(i)
      if (c == '(') depth += 1 else if (c == ')') depth -= 1
      else if (c == ',' && depth == 0) { parts += s.substring(start, i).trim; start = i + 1 }
    }
    parts += s.substring(start).trim
    parts.toSeq
  }

  /** DuckDB list indexing is 1-BASED (and -1 = last) — exactly Spark's
    * element_at, NOT Spark's 0-based `l[i]` subscript (which parses fine
    * and silently reads the wrong element). Slices (`l[a:b]`) don't
    * rewrite and stay DuckDB-only. */
  private def indexing(sql: String): String = {
    // Spark's element_at demands an INT index; DuckDB subscripts take
    // BIGINT (and the compat range()/len() produce BIGINTs) — cast
    val qualified = raw"(\w+)\.(\w+)\[([^\]\[:]+)\]".r
    val bare = raw"(?<![\w.])(\w+)\[([^\]\[:]+)\]".r
    val q1 = quotedMask(sql)
    val s1 = qualified.replaceAllIn(sql, m => java.util.regex.Matcher.quoteReplacement(
      if (q1(m.start)) m.matched
      else s"element_at(${m.group(1)}.${m.group(2)}, CAST(${m.group(3)} AS INT))"))
    val q2 = quotedMask(s1)
    bare.replaceAllIn(s1, m => java.util.regex.Matcher.quoteReplacement(
      if (q2(m.start)) m.matched
      else s"element_at(${m.group(1)}, CAST(${m.group(2)} AS INT))"))
  }

  /** DuckDB bracket LIST LITERALS (vs subscripts): a `[` whose previous
    * non-space char is not an identifier/close-bracket is a literal —
    * convert the balanced `[…]` to `array(…)` (empty `[]` → `array()`).
    * Subscripts/slices are left for [[indexing]]/[[slices]]. */
  private def bracketLiterals(sql: String): String = {
    val quoted = quotedMask(sql)
    val out = new StringBuilder
    var i = 0
    var changed = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '[' && !quoted(i)) {
        // a subscript's bracket is ADJACENT to its base — whitespace before
        // `[` means a literal (e.g. `ELSE []`, `IN [...]`)
        val prev = if (out.nonEmpty) out.charAt(out.length - 1) else ' '
        val isSubscript = prev.isLetterOrDigit || prev == '_' || prev == ')' || prev == ']'
        if (isSubscript) { out.append(c); i += 1 }
        else {
          var k = i + 1
          var depth = 1
          while (depth > 0 && k < sql.length) {
            val ch = sql.charAt(k)
            if (!quoted(k)) {
              if (ch == '[') depth += 1 else if (ch == ']') depth -= 1
            }
            k += 1
          }
          if (depth > 0) throw new IllegalArgumentException(
            s"unbalanced brackets scanning list literal near: ${sql.substring(i, math.min(i + 80, sql.length))}")
          out.append("array(").append(sql.substring(i + 1, k - 1)).append(")")
          changed = true
          i = k
        }
      } else { out.append(c); i += 1 }
    }
    if (changed) bracketLiterals(out.toString) else sql
  }

  /** DuckDB list slice `l[a:b]` (1-based, both bounds INCLUSIVE) →
    * Spark's slice(l, a, (b)-(a)+1). */
  private def slices(sql: String): String = {
    val quoted = quotedMask(sql)
    raw"(\w+(?:\.\w+)?)\[([^\]\[:]+):([^\]\[:]+)\]".r.replaceAllIn(sql,
      m => java.util.regex.Matcher.quoteReplacement(
        if (quoted(m.start)) m.matched
        else s"slice(${m.group(1)}, ${m.group(2)}, (${m.group(3)}) - (${m.group(2)}) + 1)"))
  }

  /** Subscript on a PARENTHESIZED base — `(expr)[i]` → element_at:
    * reverse-scan to the matching open paren (regexes can't balance). */
  private def parenIndexing(sql: String): String = {
    val quoted = quotedMask(sql)
    val m = raw"\)\[([^\]\[:]+)\]".r.findAllMatchIn(sql).find(mm => !quoted(mm.start))
    m match {
      case None => sql
      case Some(mm) =>
        var depth = 1
        var j = mm.start - 1 // char before the ')'
        while (depth > 0 && j >= 0) {
          val c = sql.charAt(j)
          if (!quoted(j)) {
            if (c == ')') depth += 1 else if (c == '(') depth -= 1
          }
          if (depth > 0) j -= 1
        }
        if (depth > 0) throw new IllegalArgumentException(
          s"unbalanced parens reverse-scanning (expr)[i] near: ${sql.substring(math.max(0, mm.start - 60), mm.end)}")
        val base = sql.substring(j, mm.start + 1)
        parenIndexing(sql.substring(0, j) +
          s"element_at($base, CAST(${mm.group(1)} AS INT))" +
          sql.substring(mm.end))
    }
  }

  /** Residual DuckDB string-list literals (defensive; [[bracketLiterals]]
    * catches these structurally first). */
  private def listLiterals(sql: String): String =
    raw"\[('[^']*'(?:,\s*'[^']*')*)\]".r.replaceAllIn(sql,
      m => java.util.regex.Matcher.quoteReplacement(s"array(${m.group(1)})"))

  /** Hand-written Spark statements for queries whose oracle text uses
    * DuckDB-only constructs. Keyed by registry name; each must produce
    * the registered DataFrame plan's rows exactly (see
    * [[SparkSqlOverrides]]). */
  def overrides: Map[String, String] = SparkSqlOverrides.all

  /** The CANDIDATE Spark-dialect text for any registry query: the override
    * when one exists, else the dialect-bridged oracle text. Dev-scan use
    * only (`graft.Dev parity` probes candidates to grow [[covered]]) — the
    * textual bridge rules are corpus-tuned and may mangle statements
    * outside the tested surface. */
  def candidate(name: String): Option[String] =
    overrides.get(name)
      .orElse(graft.SparkEntry.oracleSql.get(name).map(dialect))

  private lazy val coveredSet = covered.toSet

  /** The Spark-dialect statement for a registry query — served ONLY for
    * the certified [[covered]] surface (every entry value-proven against
    * its DataFrame plan by SqlParitySpec on every run). Uncovered names
    * return None rather than untested bridge output: a blind textual
    * rewrite that never faced the value test must not escape. */
  def statement(name: String): Option[String] =
    if (coveredSet(name)) candidate(name) else None

  /** The CERTIFIED SQL-parity surface: queries whose [[statement]] runs on
    * `spark.sql` and matches the registered DataFrame plan value-for-value
    * (SqlParitySpec enforces every entry on every test run; regenerate the
    * list with `graft.Dev parity` after touching the bridge or an
    * oracle statement). */
  val covered: Seq[String] = Seq(
    "agg_cube", "bars_imbalance", "corpus_curriculum",
    "corpus_heaps", "corpus_mixture", "corpus_novelty",
    "corpus_temperature", "corpus_token_budget", "corpus_zipf",
    "decontam_bloom", "dedup_ngram_jaccard", "dedup_simhash_pairs",
    "dedup_spans", "dedup_spans_maximal", "emb_whiten",
    "feat_adx", "feat_dema_tema", "feat_importance_corr",
    "feat_klinger", "feat_macd", "feat_mass_index",
    "feat_nvi_pvi", "feat_ppo", "feat_psar",
    "feat_pvo", "feat_rsi", "feat_stoch_rsi",
    "feat_supertrend", "feat_trix", "feat_tsi",
    "feat_zigzag", "graph_linkpred", "graph_pagerank",
    "ml_feature_bins", "ml_matrix", "multimodal_decode",
    "multimodal_dedup", "multimodal_phash", "multimodal_phash_neighbors",
    "multimodal_resize", "quality_gopher", "quality_quota",
    "retention_cohorts", "sim_ann_ivf", "sim_ann_lsh",
    "sim_ann_pq", "sim_ann_recall", "sim_hard_negatives",
    "sim_kmeans", "sim_matryoshka", "sim_mips",
    "sim_neardup", "sim_pq", "sim_quantize",
    "sim_rproj", "sim_topk", "text_inverted_index",
    "text_langid", "text_source_stats", "text_stats",
    "user_ltv", "window_cusum", "window_ewm_vol",
    "window_holt", "window_kama", "window_mad",
    "abtest_ztest", "agg_bootstrap", "agg_cms_topk",
    "agg_corr", "agg_distinct", "agg_gini",
    "agg_histogram", "agg_hll", "agg_mode",
    "agg_moments", "agg_quantile_sketch", "agg_quantiles",
    "agg_rollup", "agg_stats", "agg_trimmed_mean",
    "agg_weighted_median", "assoc_pairs", "bars_adjust",
    "bars_anchored_vwap", "bars_candles", "bars_dollar",
    "bars_gapfill", "bars_renko", "bars_resample",
    "class_balance", "corpus_colloc", "corpus_datacard",
    "corpus_dsir", "corpus_vocab", "corpus_vocab_overlap",
    "cv_folds", "cv_purged", "decontam_pairs",
    "decontaminate_train", "dedup_containment", "dedup_cross_source",
    "dedup_density", "dedup_exact", "dedup_exact_norm",
    "dedup_fuzzy", "dedup_minhash", "dedup_minhash_pairs",
    "dedup_prefix", "dedup_shared_ngrams", "dedup_simhash",
    "dedup_threshold_sweep", "doc_chunks", "dq_checks",
    "dq_kanon", "dq_quarantine", "drift_chi2",
    "drift_js", "drift_ks", "drift_psi",
    "drift_wasserstein", "emb_dim_stats", "events_acf",
    "events_anomaly", "events_attribution", "events_burst",
    "events_dau_wau", "events_dispersion", "events_entropy",
    "events_forecast_eval", "events_hll_sliding", "events_markov",
    "events_mi", "events_paths", "events_quantile_sliding",
    "events_stationarity", "events_time_to_convert", "events_user_overlap",
    "feat_alligator", "feat_amihud", "feat_aroon",
    "feat_atr", "feat_awesome", "feat_bollinger",
    "feat_cci", "feat_chaikin_osc", "feat_chande",
    "feat_chandelier", "feat_choppiness", "feat_cmf",
    "feat_connors_rsi", "feat_coppock", "feat_donchian",
    "feat_dpo", "feat_drawdown", "feat_elder_ray",
    "feat_eom", "feat_fisher", "feat_force",
    "feat_garch", "feat_heikin_ashi", "feat_hull",
    "feat_ichimoku", "feat_keltner", "feat_kst",
    "feat_kyle_lambda", "feat_mfi", "feat_momentum",
    "feat_obv", "feat_pivot_points", "feat_qstick",
    "feat_range_vol", "feat_riskadj", "feat_roll_spread",
    "feat_rvol", "feat_squeeze", "feat_stochastic",
    "feat_temporal", "feat_ulcer", "feat_ultimate",
    "feat_underwater", "feat_vhf", "feat_vol_of_vol",
    "feat_volatility", "feat_vortex", "feat_vpin",
    "feat_vwap", "feat_vwma", "feat_williams_r",
    "feature_target_corr", "funnel_events", "funnel_sessions",
    "graph_degrees", "ingest_bars", "ingest_bars_csv",
    "ingest_bars_json", "ingest_bars_orc", "join_anti",
    "join_asof", "join_asof_nearest", "join_asof_tol",
    "join_full", "join_outer", "join_range",
    "join_semi", "join_star", "json_fields",
    "lake_compact_plan", "lake_upsert", "lake_zorder",
    "ml_auc", "ml_calibration", "ml_hash_features",
    "ml_ks_stat", "ml_lift", "ml_ndcg",
    "ml_pr_auc", "ml_roc", "ml_scale_train",
    "multimodal_frames", "multimodal_meta", "orders_backlog",
    "orders_basket", "pack_sequences", "pivot_events",
    "q10_returned_items", "q11_important_parts", "q12_return_priority",
    "q13_customer_distribution", "q14_promo_effect", "q15_top_supplier",
    "q16_part_variety", "q17_small_quantity", "q18_large_orders",
    "q19_discounted_revenue", "q1_pricing", "q20_excess_stock",
    "q21_sole_return", "q22_wealthy_idle", "q2_min_unit_cost",
    "q3_shipping", "q4_priority_count", "q5_local_supplier",
    "q6_revenue", "q7_volume_shipping", "q8_market_share",
    "q9_product_profit", "quality_perplexity_buckets", "retention_survival",
    "sample_bernoulli", "sample_stratified", "sample_weighted",
    "scd2_asof", "scd2_history", "seasonality_decompose",
    "seasonality_profile", "sessionize", "sessions_concurrency",
    "set_ops", "sim_label_centroids", "snapshot_diff",
    "supplier_hhi", "target_encode", "target_encode_oof",
    "targets_classification", "targets_regression", "temporal_split",
    "text_bm25", "text_boilerplate", "text_entropy",
    "text_fingerprint", "text_keywords", "text_langid_ngram",
    "text_logprob", "text_logprob_bigram", "text_oov",
    "text_pii_summary", "text_readability", "text_redact",
    "text_repetition", "text_tfidf", "text_ttr",
    "topk_events", "topk_per_user", "union_symbols",
    "unpivot_events", "user_burstiness", "user_cadence",
    "user_churn", "user_pareto", "user_rfm",
    "value_counts", "window_autocorr", "window_beta",
    "window_corr", "window_firstlast", "window_hurst",
    "window_median", "window_outliers", "window_rank",
    "window_skew", "window_sliding", "window_streak",
    "window_trend", "window_tumbling", "window_winsorize",
    "xsec_rank")
}
