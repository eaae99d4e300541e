package graft

import graft.queries.{Analytics, Core}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan regression guards for the scale properties the engine is
  * designed around — if a refactor adds a shuffle or unfuses the feature
  * pipeline, these fail before any benchmark notices.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def countOp(df: DataFrame, op: String): Int =
    plan(df).linesIterator.count(_.contains(op))

  test("fused 49-feature pipeline: <=5 window passes, one hash exchange") {
    import graft.features.{Features, Incremental}
    import org.apache.spark.sql.catalyst.plans.logical.{Window => WindowNode}
    val b = graft.source.Bars.bars(spark, dir)
    val all = Features.computeAllFeatures(b)
    def family(names: Seq[String]) =
      all.select(("symbol" +: "event_id" +: names).map(col): _*)
    def windows(df: DataFrame) =
      plan(df).linesIterator.count(_.matches(".*\\bWindow \\[.*"))
    val source = windows(b) // the bars' own open = lag(close) pass
    // Every family is a column selection of the fused pipeline; column
    // pruning must drop the windows a selection does not read, so a
    // finite-window selection plans no EWMA recurrence.
    for ((name, df, maxWindows, hasEwma) <- Seq(
        ("computeAllFeatures", all, 4, true),
        ("finiteFeatures", Incremental.finiteFeatures(b), 3, false),
        ("rsi", family(Features.RsiCols), 3, true),
        ("macd", family(Features.MacdCols), 3, true),
        ("bollinger", family(Features.BollingerCols), 3, false),
        ("momentum", family(Features.MomentumCols), 3, false),
        ("volatility", family(Features.VolatilityCols), 3, false))) {
      val passes = windows(df) - source
      assert(passes > 0 && passes <= maxWindows,
        s"$name regressed to $passes window passes over the bars (want <= $maxWindows)")
      val hashEx = countOp(df, "Exchange hashpartitioning")
      assert(hashEx == 1, s"$name has $hashEx hash exchanges (want 1)")
      val ewmas = df.queryExecution.optimizedPlan
        .collect { case w: WindowNode => w.windowExpressions }.flatten
        .count(_.find(_.isInstanceOf[graft.expr.Ewma]).isDefined)
      assert((ewmas > 0) == hasEwma,
        s"$name plans $ewmas EWMA window expressions (want ${if (hasEwma) "some" else "none"})")
    }
  }

  test("star join broadcasts the dimension side") {
    val df = Analytics.joinStar(spark, dir)
    assert(countOp(df, "BroadcastExchange") >= 1)
    assert(countOp(df, "BroadcastHashJoin") >= 1)
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val df = Core.topkEvents(spark, dir)
    assert(countOp(df, "TakeOrderedAndProject") == 1)
  }

  test("scan-level pruning: projection reaches the parquet reader") {
    val two = graft.source.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity")
    val scanLine = plan(two).linesIterator.find(_.contains("ReadSchema"))
    assert(scanLine.exists(l => l.contains("l_orderkey") && l.contains("l_quantity")
      && !l.contains("l_extendedprice")), s"column pruning missing: $scanLine")
    val filtered = graft.source.Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 10).select("l_orderkey")
    assert(plan(filtered).contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,10.0)]"),
      "predicate not pushed to scan")
  }

  test("bucketed tables join without a shuffle exchange") {
    val li = graft.source.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity")
    val ord = graft.source.Tables.orders(spark, dir)
      .select("o_orderkey", "o_totalprice")
    graft.source.Storage.writeBucketed(li, "b_lineitem", "l_orderkey", 8)
    graft.source.Storage.writeBucketed(ord, "b_orders", "o_orderkey", 8)
    val joined = spark.table("b_lineitem")
      .join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
    // co-located bucket layout: no Exchange on either join side
    assert(countOp(joined, "Exchange hashpartitioning") == 0,
      s"bucketed join still shuffles:\n${plan(joined)}")
    assert(joined.count() == li.count()) // every lineitem has its order
  }

  test("temporal_split has no single-partition (global) window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = Core.temporalSplit(spark, dir)
    val global = df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty,
      "temporal_split regressed to a global window (all rows through one task)")
  }

  test("hash-Bernoulli sampling is narrow: no exchange before the filter") {
    val df = graft.analytics.Sampling.bernoulliByHash(
      graft.source.Bars.readEvents(spark, dir), col("event_id"), "2")
    assert(countOp(df, "Exchange") == 0,
      s"bernoulliByHash plan shuffles:\n${plan(df)}")
  }

  test("ranking-window family shares one hash exchange across both specs") {
    val df = Analytics.windowRank(spark, dir)
    assert(countOp(df, "Exchange hashpartitioning") == 1,
      s"window_rank should reuse one symbol exchange:\n${plan(df)}")
  }

  test("doc chunking is narrow: no exchange before the chunk explode") {
    val df = graft.text.Corpus.chunk(graft.source.Tables.documents(spark, dir))
    assert(countOp(df, "Exchange") == 0,
      s"chunk plan shuffles:\n${plan(df)}")
    assert(countOp(df, "Generate") == 1)
  }

  test("corpus_mixture joins the fact scan against broadcast rates") {
    val df = graft.text.Corpus.mixtureSample(
      graft.source.Tables.documents(spark, dir))
    assert(countOp(df, "BroadcastHashJoin") >= 1 &&
      countOp(df, "SortMergeJoin") == 0,
      s"mixture rates not broadcast:\n${plan(df)}")
  }

  test("range join rides the equi hash join — never a nested-loop product") {
    val df = Analytics.joinRange(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range predicate fell off the equi join:\n$p")
  }

  test("anti join plans as LeftAnti on distinct keys") {
    val p = plan(Analytics.joinAnti(spark, dir))
    assert(p.contains("LeftAnti"), s"expected LeftAnti join:\n$p")
  }

  test("window_median runs ONE window pass with no Percentile aggregate") {
    val df = Analytics.windowMedian(spark, dir)
    val windows = plan(df).linesIterator.count(_.matches(".*\\bWindow \\[.*"))
    assert(windows == 1,
      s"window_median regressed to $windows window passes:\n${plan(df)}")
    assert(!plan(df).contains("percentile"),
      "window_median regressed to per-frame Percentile aggregates")
    assert(countOp(df, "Exchange hashpartitioning") == 1,
      s"window_median should shuffle once on symbol:\n${plan(df)}")
  }

  test("window_corr: one symbol exchange, two chained window passes") {
    val df = Analytics.windowCorr(spark, dir)
    val windows = plan(df).linesIterator.count(_.matches(".*\\bWindow \\[.*"))
    assert(windows == 2,
      s"window_corr should run cums+lags as 2 window passes, got $windows:\n${plan(df)}")
    assert(countOp(df, "Exchange hashpartitioning") == 1,
      s"window_corr should shuffle once on symbol:\n${plan(df)}")
  }

  test("corpus_vocab top-k plans as TakeOrderedAndProject") {
    val df = graft.queries.TextSim.corpusVocab(spark, dir)
    assert(countOp(df, "TakeOrderedAndProject") == 1,
      s"vocab top-100 regressed to a global sort:\n${plan(df)}")
  }

  test("bars_gapfill: fill window reuses the grid aggregate's partitioning") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = Core.barsGapfill(spark, dir)
    val global = df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty, "gapfill regressed to a global window")
    val windows = plan(df).linesIterator.count(_.matches(".*\\bWindow \\[.*"))
    assert(windows == 1,
      s"gapfill should forward-fill in one window pass, got $windows:\n${plan(df)}")
  }

  test("every round-7 indicator runs on ONE symbol exchange") {
    // the Market.with* frames directly — the query wrappers localCheckpoint
    // before the output sort, which truncates the inspectable plan
    val b = graft.source.Bars.bars(spark, dir)
    val M = graft.features.Market
    for ((name, df) <- Seq(
        "withAtr" -> M.withAtr(b),
        "withStochastic" -> M.withStochastic(b),
        "withObv" -> M.withObv(b),
        "withMfi" -> M.withMfi(b),
        "withOutliers" -> M.withOutliers(b),
        "withRollingCorr" -> M.withRollingCorr(b),
        "withWilliamsR" -> M.withWilliamsR(b),
        "withDonchian" -> M.withDonchian(b),
        "withCci" -> M.withCci(b),
        "withKeltner" -> M.withKeltner(b),
        "withAdx" -> M.withAdx(b),
        "withAmihud" -> M.withAmihud(b),
        "withRollSpread" -> M.withRollSpread(b),
        "withAroon" -> M.withAroon(b),
        "withVortex" -> M.withVortex(b),
        "withCmf" -> M.withCmf(b),
        "withRangeVol" -> M.withRangeVol(b),
        "withUlcer" -> M.withUlcer(b),
        "withTrix" -> M.withTrix(b))) {
      assert(countOp(df, "Exchange hashpartitioning") == 1,
        s"$name regressed to multiple hash exchanges:\n${plan(df)}")
    }
  }

  test("events_paths: top-k paths plan as TakeOrderedAndProject") {
    val df = Analytics.eventsPaths(spark, dir)
    assert(countOp(df, "TakeOrderedAndProject") == 1,
      s"events_paths top-k regressed to a global sort:\n${plan(df)}")
  }

  test("window_cusum: both CUSUM sides fused over the one symbol exchange") {
    val df = Analytics.windowCusum(spark, dir)
    assert(countOp(df, "Exchange hashpartitioning") == 1,
      s"window_cusum regressed to multiple hash exchanges:\n${plan(df)}")
    assert(plan(df).contains("cusum"), "custom Cusum window function not in plan")
  }

  test("xsecRank: one bucket exchange carries every cross-sectional window") {
    val df = Core.xsecRank(spark, dir)
    // hourly agg (symbol, hour) + symbol lag + ONE bucket exchange for the
    // rank/ntile/count/fold windows — 3 hash exchanges total, all keyed
    assert(countOp(df, "Exchange hashpartitioning") == 3,
      s"xsecRank shuffle count regressed:\n${plan(df)}")
    assert(countOp(df, "Exchange rangepartitioning") == 1) // output sort only
  }

  test("withAdx fuses the three Wilder smoothers into one window pass") {
    val df = graft.features.Market.withAdx(
      graft.source.Bars.bars(spark, dir))
    // stage A: lags; stage B: the three ewma smoothers (ONE fused
    // WindowExec); stage C: the adx smoother over the derived dx — at
    // most 4 Window operators over the single exchange
    val windows = plan(df).linesIterator.count(_.matches(".*\\bWindow \\[.*"))
    assert(windows <= 4, s"withAdx regressed to $windows window passes:\n${plan(df)}")
  }

  test("TPC-H decorrelation block: keyed shuffles pinned, dims broadcast, no BNLJ outside q11") {
    // Every classic correlated-subquery shape must stay decorrelated: a
    // bounded number of keyed fact shuffles plus broadcast dimension
    // probes. Ceilings are the measured counts at sf0.001 (deterministic
    // planning at fixed input sizes/confs) — an extra Exchange appearing
    // on any of these is a real plan regression, not noise.
    val shapes = Seq(
      // (query, max hash exchanges, min BroadcastHashJoins)
      ("q4_priority_count", 1, 1),        // EXISTS → semi join + one agg
      ("q7_volume_shipping", 3, 4),       // two-nation scope broadcast both legs
      ("q8_market_share", 3, 6),          // full dim stack broadcast
      ("q9_product_profit", 1, 4),        // profit rollup, one keyed shuffle
      ("q10_returned_items", 1, 3),       // aggregate-below-join + top-k
      ("q12_return_priority", 1, 1),
      ("q13_customer_distribution", 2, 1),// agg-below-outer-join + histogram
      ("q14_promo_effect", 0, 1),         // zero keyed shuffles: bcast join + 1-row agg
      ("q15_top_supplier", 2, 2),         // max-equality collapses to equi BHJ
      ("q16_part_variety", 2, 2),         // distinct pairs + bucket rollup
      ("q18_large_orders", 1, 2),         // HAVING survivors broadcast back
      ("q19_discounted_revenue", 0, 1))   // zero keyed shuffles: disjunction is row-local
    for ((q, maxEx, minBhj) <- shapes) {
      val df = SparkEntry.queries(q)(spark, dir)
      val ex = countOp(df, "Exchange hashpartitioning")
      assert(ex <= maxEx, s"$q: $ex hash exchanges (ceiling $maxEx):\n${plan(df)}")
      assert(countOp(df, "BroadcastHashJoin") >= minBhj,
        s"$q lost a broadcast probe:\n${plan(df)}")
      assert(countOp(df, "BroadcastNestedLoop") == 0,
        s"$q plans a nested-loop join:\n${plan(df)}")
    }
    // shape-specific operators
    assert(countOp(SparkEntry.queries("q4_priority_count")(spark, dir), "LeftSemi") == 1)
    assert(countOp(SparkEntry.queries("q16_part_variety")(spark, dir), "LeftAnti") == 1)
    assert(countOp(SparkEntry.queries("q10_returned_items")(spark, dir), "TakeOrderedAndProject") == 1)
    assert(countOp(SparkEntry.queries("q18_large_orders")(spark, dir), "TakeOrderedAndProject") == 1)
  }

  test("runtime bloom filter prunes the fact side of a selective shuffled join") {
    // The 100 TB fact⋈selective-dim story when the dim is too big to
    // broadcast: Spark's InjectRuntimeFilter builds a bloom filter on the
    // dim's join keys and semi-filters the fact scan before the shuffle.
    // Default thresholds target cluster-scale sizes, so the test lowers the
    // application-side gate to prove the engine's config leaves the
    // optimization reachable.
    val c = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> c.getOption(k))
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = graft.source.Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_quantity")
      val sel = graft.source.Tables.orders(spark, dir)
        .filter(col("o_totalprice") > 100000.0).select("o_orderkey")
      val j = li.join(sel, col("l_orderkey") === col("o_orderkey"))
      assert(plan(j).contains("might_contain"),
        s"runtime bloom filter not injected:\n${plan(j)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(c.unset(k))(c.set(k, _))
    }
  }

  test("date-partitioned layout prunes partitions at planning time") {
    val bars = graft.source.Bars.bars(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-part-").toString
    graft.source.Storage.savePartitionedByDay(bars, path)
    val all = spark.read.parquet(path)
    val pruned = all.filter(col("day") === all.agg(max("day")).collect()(0).getDate(0))
    val p = plan(pruned)
    assert(p.contains("PartitionFilters: ["),
      s"day filter did not become a partition filter:\n$p")
    // planning-time pruning: the scan SELECTS fewer partition directories
    // (df.inputFiles ignores partition filters, so ask the scan node)
    import org.apache.spark.sql.execution.FileSourceScanExec
    def partsOf(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan
        .collect { case f: FileSourceScanExec => f }
        .head.selectedPartitions.partitionCount
    assert(partsOf(pruned) == 1 && partsOf(all) > 1,
      s"pruning selected ${partsOf(pruned)}/${partsOf(all)} partitions")
    // the filter prunes directories, not rows: no day predicate may remain
    // as a pushed data filter
    assert(!p.contains("PushedFilters: [IsNotNull(day)"),
      "day should be a partition column, not a data column")
  }

  test("scd2_asof is linear: union+window, never a nested-loop range join") {
    val p = plan(graft.queries.Analytics.scd2Asof(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"point-in-time lookup degraded to a quadratic join:\n$p")
    assert(p.contains("Window"), "expected the running last() window")
  }

  test("window_ewm_vol fuses both EWMAs into one WindowExec pass") {
    val df = Analytics.windowEwmVol(spark, dir)
    val windows = plan(df).linesIterator.count(_.matches(".*\\bWindow \\[.*"))
    assert(windows == 1, s"expected one fused window pass, got $windows")
  }

  test("window_beta: keyed shuffles only — no cartesian, no data-sized broadcast") {
    val df = Analytics.windowBeta(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"market-return join degraded to a quadratic shape:\n$p")
    // one market-return aggregate + the shared symbol window exchange; the
    // timestamp join may be hash- or sort-merge-joined, both keyed
    assert(p.contains("Window"), "expected the rolling cum-sum window pass")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 4,
      s"unexpected extra shuffles:\n$p")
  }

  test("grouped top-k plans partial+final WindowGroupLimit around the shuffle") {
    val p = plan(graft.queries.Analytics.topkPerUser(spark, dir))
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      s"rank-limit pushdown missing — mappers would shuffle whole groups:\n$p")
  }

  test("lake upsert plans a map-side WindowGroupLimit before the key shuffle") {
    val p = plan(graft.queries.Analytics.lakeUpsert(spark, dir))
    // rank-limit pushdown: Spark inserts partial + final WindowGroupLimit
    // around the exchange, so each mapper keeps only its local top-1 per
    // key — the shuffle moves candidates, not the whole table
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      s"expected partial+final WindowGroupLimit around the merge shuffle:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("compaction collapses a small-file table without changing its rows") {
    val bars = graft.source.Bars.bars(spark, dir)
      .select("symbol", "event_id", "close")
    val path = java.nio.file.Files.createTempDirectory("graft-compact-").toString + "/t"
    bars.repartition(37).write.parquet(path)   // the streaming-sink pathology
    val before = spark.read.parquet(path)
    val filesBefore = before.inputFiles.length
    val r1 = before.agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    val (n, checksum) = (r1.getLong(0), r1.getLong(1))
    graft.source.Lake.compact(spark, path, targetRowsPerFile = (n / 3) + 1)
    val after = spark.read.parquet(path)
    assert(after.inputFiles.length < filesBefore && after.inputFiles.length <= 3,
      s"${after.inputFiles.length} files after compaction (was $filesBefore)")
    val r2 = after.agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    assert((r2.getLong(0), r2.getLong(1)) == (n, checksum),
      "compaction changed the data")
  }

  test("zone-map manifest skips files whose [min,max] excludes the predicate") {
    val ev = graft.source.Bars.readEvents(spark, dir)
      .select("event_id", "user_id", "value")
    val path = java.nio.file.Files.createTempDirectory("graft-zonemap-").toString + "/t"
    // range-layout by user_id -> files carry disjoint user ranges
    ev.repartitionByRange(8, col("user_id")).write.parquet(path)
    val full = spark.read.parquet(path)
    val manifest = graft.source.Lake.skippingManifest(full, Seq("user_id"))
    assert(manifest.count() == full.inputFiles.length,
      "manifest must carry exactly one row per file")
    val probe = lit(full.agg(min(col("user_id"))).collect()(0).getLong(0))
    val pruned = graft.source.Lake.prunedRead(spark, path, "user_id", probe)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"zone map skipped nothing (${pruned.inputFiles.length} files)")
    val want = full.filter(col("user_id") === probe).agg(
      count(lit(1)), sum(col("event_id"))).collect()(0)
    val got = pruned.agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    assert(got == want, "pruned read lost or duplicated rows")
    assert(want.getLong(0) > 0, "probe user missing from fixture")
  }

  test("pageRank round: broadcast rank join + ONE wide shuffle (small graph), co-partitioned fallback (large)") {
    import graft.analytics.Graph
    val s = spark
    import s.implicits._
    // inputs built by the operators' own setup: a raw pinned 2-column
    // edge list, a zeros table carrying outdeg, and a rank table carrying
    // the precomputed per-node contribution cpn (r14 — the per-edge
    // division moved into each round's OUTPUT projection, so the rounds
    // scan raw (src, dst), need no rank-prep join, and the old
    // (src, dst, outdeg) edge table is gone)
    val e = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    val st = Graph.rankSetup(e, None, 0.85)
    // small-n path: rank table broadcast onto the edges, contribution
    // aggregate is the only wide shuffle, and no second join materializes
    // the teleport term or the degrees (both ride the zeros rows).
    // (r14 note: an exchange-free broadcast round via persist-preserved
    // partitioning was built and MEASURED SLOWER at sf0.1 — columnar cache
    // scans cost more than the node-sized shuffle they saved — so this
    // one-wide-shuffle shape is the keeper; see BENCH.md.)
    val small = Graph.prRound(st, st.ranks0)
    assert(countOp(small, "BroadcastHashJoin") == 1,
      s"small-graph round must broadcast the rank table:\n${plan(small)}")
    assert(countOp(small, "Exchange hashpartitioning") == 1,
      s"round must have exactly ONE wide shuffle (the contrib agg):\n${plan(small)}")
    assert(countOp(small, "Join") == 1,
      s"teleport + degree must fold into the aggregate, not a join:\n${plan(small)}")
    // large-n path: no forced broadcast hint — Catalyst still picks a
    // broadcast here because this test table is tiny (size stats), which is
    // the adaptive behavior we want; the guard is the single-join,
    // single-wide-shuffle round shape that holds when stats forbid it
    val large = Graph.prRound(st.copy(n = Graph.RankBroadcastMaxNodes + 1), st.ranks0)
    assert(countOp(large, "Join") == 1, plan(large))
    assert(countOp(large, "Exchange hashpartitioning") <= 2,
      s"large-graph round shuffles more than the rank table + contrib agg:\n${plan(large)}")
    // the seeded round personalizedPageRank runs, on a graph with dangling
    // nodes (3 and 4 have no out-edge): the seed teleport tp rides the
    // zeros rows like outdeg, so the round keeps its one broadcast rank
    // join and one wide shuffle, and the dangling mass is a 1-row
    // aggregate broadcast into the round by a crossJoin
    val de = Seq((1L, 3L), (1L, 4L), (2L, 4L)).toDF("src", "dst")
    val pst = Graph.rankSetup(de, Some(Seq(1L).toDF("node")), 0.85)
    assert(pst.dangling.isDefined && pst.zeros.columns.contains("tp"))
    val seeded = Graph.prRound(pst, pst.ranks0)
    assert(countOp(seeded, "BroadcastHashJoin [src") == 1,
      s"seeded round must broadcast the rank table onto the edges:\n${plan(seeded)}")
    assert(countOp(seeded, "Exchange hashpartitioning") == 1,
      s"seeded round must have exactly ONE wide shuffle:\n${plan(seeded)}")
    assert(countOp(seeded, "BroadcastNestedLoopJoin") == 1 &&
      countOp(seeded, "BroadcastNestedLoopJoin BuildRight, Cross") == 1,
      s"dangling share must be a broadcast crossJoin:\n${plan(seeded)}")
  }

  test("connectedComponents round: broadcast label join + ONE wide shuffle") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
      .localCheckpoint()
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("dst")).localCheckpoint()
    val labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    val round = graft.text.Dedup.ccRound(edges, labels, nNodes = 5)
    assert(countOp(round, "BroadcastHashJoin") == 1,
      s"small-graph CC round must broadcast the label table:\n${plan(round)}")
    assert(countOp(round, "Exchange hashpartitioning") == 1,
      s"CC round must have exactly ONE wide shuffle (the grouped min):\n${plan(round)}")
  }

  test("every round-8 indicator runs on ONE symbol exchange") {
    val b = graft.source.Bars.bars(spark, dir)
    val M = graft.features.Market
    for ((name, df) <- Seq(
        "withChande" -> M.withChande(b),
        "withDpo" -> M.withDpo(b),
        "withElderRay" -> M.withElderRay(b),
        "withHeikinAshi" -> M.withHeikinAshi(b),
        "withFisher" -> M.withFisher(b),
        "withKyleLambda" -> M.withKyleLambda(b),
        "withSupertrend" -> M.withSupertrend(b),
        "withPsar" -> M.withPsar(b),
        "withSqueeze" -> M.withSqueeze(b))) {
      assert(countOp(df, "Exchange hashpartitioning") == 1,
        s"$name regressed to multiple hash exchanges:\n${plan(df)}")
    }
  }

  test("pivot points broadcast the day table back onto the bars") {
    val df = graft.features.Market.withPivotPoints(
      graft.source.Bars.bars(spark, dir))
    assert(countOp(df, "BroadcastHashJoin") == 1,
      s"pivot levels must broadcast, not shuffle the fact stream:\n${plan(df)}")
  }

  test("text_keywords rank-limit pushes down (WindowGroupLimit before the shuffle)") {
    val df = graft.queries.TextSim.textKeywords(spark, dir)
    assert(countOp(df, "WindowGroupLimit") >= 1,
      s"per-doc top-k must prune map-side:\n${plan(df)}")
  }

  test("salted join spreads a hot key and preserves results") {
    val s = spark
    import s.implicits._
    val left = (1L to 1000L).map(i => (1L, i)).toDF("k", "event_id") // one hot key
    val right = Seq((1L, "dim")).toDF("k", "name")
    val out = graft.analytics.Relational.saltedJoin(left, right, "k")
    assert(out.count() == 1000)
    assert(out.columns.toSet == Set("k", "event_id", "name"))
  }
}
