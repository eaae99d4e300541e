package graft.queries

import graft.Params
import graft.features._
import graft.source.Bars
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.source.Checkpoint.PinOps

/** Oracle-checked core queries (SURVEY.md §2.2-2.5). Each returns a
  * deterministically-ordered DataFrame whose derived doubles are rounded to
  * 6 decimals in FLOOR form (FIXTURES.md §4) so the driver's DuckDB hash
  * compare is bit-stable.
  */
object Core {

  /** Round to 6 decimals as `floor(x·1e6 + 0.5) / 1e6` — mirrored verbatim
    * in the oracle SQL. floor form, NOT `round(x, 6)`: Spark's Round goes
    * through the shortest decimal string (BigDecimal.valueOf) while DuckDB
    * rounds the binary double, so values whose 7th decimal is a
    * representation tie land on different 6th decimals (~1 row in 1e5 at
    * sf0.1 magnitudes — feat_momentum roc, realized_vol, percent_rank all
    * hit it). floor/×/+ are identical IEEE ops in both engines, so the same
    * input double ALWAYS rounds the same way. Also collapses -0.0 (the
    * +0.5-then-floor of any -0.5·1e-6 ≤ x ≤ 0 is +0.0).
    *
    * |x| > 9e9 passes through unrounded: Spark's floor returns LONG, which
    * clamps at 2^63 (the sf0.1 zero-denominator roc rows hit it at ~5e13),
    * and 6-decimal rounding is meaningless at 11+ integer digits anyway.
    * The guard is the SAME comparison on the SAME double in the oracle SQL,
    * so both engines always take the same branch — including NaN/Inf, which
    * both engines order above every finite value, so they flow through the
    * identity branch instead of Spark's NaN.toLong = 0.
    *
    * Implemented as the codegen'd [[graft.expr.GuardedFloorRound]] (child
    * evaluated once, three primitive ops) — the equivalent
    * `when(abs(c) > guard, c).otherwise(floor(...))` Column form gets its
    * branches inlined by CollapseProject and excluded from codegen CSE,
    * re-evaluating every wrapped feature expression ~3× (measured +1.7 s
    * on ml_matrix's 44-column rounding projection at sf0.1). */
  def r6(c: Column): Column = graft.expr.GuardedFloorRound.round6(c)

  /** 4-decimal variant of [[r6]] for distributed money sums, flooring at the
    * data's own 1e-4 granularity (2dp price × 2dp discount), where half-tie
    * points are unreachable under any summation order. Guard threshold
    * scaled ×100 from r6's (floor still returns LONG; 4-decimal rounding is
    * meaningless at 13+ integer digits) so a revenue sum past ~9e11 passes
    * through identically in both engines instead of silently clamping. */
  def r4(c: Column): Column = graft.expr.GuardedFloorRound.round4(c)

  // localCheckpoint before the global output sort: RangePartitioning
  // samples its child to pick boundaries, which would re-run the window
  // pipeline feeding every feature query a second time (see mlMatrix).
  private def keyed(df: DataFrame, names: Seq[String],
      round: Set[String]): DataFrame =
    df.select(col("symbol") +: col("event_id") +:
        names.map(n => (if (round(n)) r6(col(n)) else col(n)).as(n)): _*)
      .pinned()
      .orderBy("event_id")

  def bars(s: SparkSession, dir: String): DataFrame = Bars.bars(s, dir)

  /** S1/S7/P1-P3: source normalization (events → canonical OHLCV bars). */
  def ingestBars(s: SparkSession, dir: String): DataFrame =
    bars(s, dir).select(
      col("symbol"), col("event_id"),
      // timestamp_ntz: parquet naive µs, matching DuckDB's TIMESTAMP
      // (session tz is UTC, so the wall-clock value is unchanged)
      col("datetime").cast("timestamp_ntz").as("datetime"),
      r6(col("open")).as("open"), r6(col("high")).as("high"),
      r6(col("low")).as("low"), r6(col("close")).as("close"),
      col("volume"))
      .orderBy("event_id")

  /** S6/S8: CSV sink + source roundtrip — bars written to CSV (header,
    * µs timestamp format), read back with an explicit schema, then the same
    * projection as ingest_bars. Shares ingest_bars' oracle: the roundtrip
    * must be value-preserving. */
  def ingestBarsCsv(s: SparkSession, dir: String): DataFrame = {
    val b = bars(s, dir).select("symbol", "event_id", "datetime",
      "open", "high", "low", "close", "volume")
    // per-process staging path: a fixed hash-only path would race
    // concurrent sessions verifying the same sfDir
    val path = s"/tmp/graft-csv-${Integer.toHexString(dir.hashCode)}-" +
      ProcessHandle.current().pid()
    graft.source.Storage.save(b, path, "csv")
    val back = graft.source.Storage.load(s, path, "csv", Some(b.schema))
    back.select(
      col("symbol"), col("event_id"),
      col("datetime").cast("timestamp_ntz").as("datetime"),
      r6(col("open")).as("open"), r6(col("high")).as("high"),
      r6(col("low")).as("low"), r6(col("close")).as("close"),
      col("volume"))
      .orderBy("event_id")
  }

  /** S6/S8 analog for text/columnar formats beyond CSV: round-trip the
    * canonical bars through a sink format and normalize back — same oracle
    * as ingest_bars (values must survive the round trip bit-exactly; JSON
    * goes through decimal strings, ORC through its own columnar encoding). */
  private def ingestBarsVia(s: SparkSession, dir: String,
      format: String): DataFrame = {
    val b = bars(s, dir).select("symbol", "event_id", "datetime",
      "open", "high", "low", "close", "volume")
    // per-process staging path (a fixed path would race concurrent sessions)
    val path = s"/tmp/graft-$format-${Integer.toHexString(dir.hashCode)}-" +
      ProcessHandle.current().pid()
    graft.source.Storage.save(b, path, format)
    val back = graft.source.Storage.load(s, path, format, Some(b.schema))
    back.select(
      col("symbol"), col("event_id"),
      col("datetime").cast("timestamp_ntz").as("datetime"),
      r6(col("open")).as("open"), r6(col("high")).as("high"),
      r6(col("low")).as("low"), r6(col("close")).as("close"),
      col("volume"))
      .orderBy("event_id")
  }

  def ingestBarsJson(s: SparkSession, dir: String): DataFrame =
    ingestBarsVia(s, dir, "json")

  def ingestBarsOrc(s: SparkSession, dir: String): DataFrame =
    ingestBarsVia(s, dir, "orc")

  /** M6/P10: top-20 GBT feature importances (rows-only — tree training is
    * not oracle-reproducible; invariants covered by MlSpec). Trains a small
    * model on a bounded, deterministic slice. */
  def topkImportance(s: SparkSession, dir: String): DataFrame = {
    import graft.features.{Features, Targets}
    import graft.ml.MlPipeline
    // NOTE (r15, measured): pushing the event_id slice BELOW the feature
    // pipeline (valid — event_id is monotone in datetime per symbol and
    // every feature frame is trailing, proven output-identical at all
    // three SFs) was TRIED and rejected twice over: no wall win (the GBT
    // driver work dominates, 2.97 → 3.17 s), and with the training frame
    // pinned the optimizer's InferFiltersFromConstraints pass blows up
    // rewriting the low filter's constraints through 49 stacked alias
    // projections (>10 min planning, single-core). Filter stays on top.
    val feats = Targets.withTarget(Features.computeAllFeatures(bars(s, dir)))
      .filter(col("event_id") < 10000)
    val fcols = Features.FeatureCols
    // pinned: GBT training runs several driver actions over this frame
    // BEFORE its internal persist (metadata take/aggregate, bagging
    // setup) — unpinned, each re-ran the whole feature pipeline
    val model = MlPipeline.classifier(maxIter = 2).setMaxDepth(3)
      .fit(MlPipeline.assemble(feats, fcols).pinned())
    MlPipeline.topImportances(model, fcols, 20)
  }

  /** Deterministic feature-importance surrogate: per-feature |Pearson
    * corr(feature, target)| over the frozen [[mlMatrix]], top 20 by
    * (|corr| DESC, feature) — the oracle-checkable twin of
    * [[topkImportance]] (GBT importances are not cross-engine
    * reproducible; the correlation screen is the standard cheap proxy a
    * feature-selection pass runs first). Exactness recipe (the
    * events_stationarity pattern): features are r6-rounded, so
    * floor(f·10⁶ + 0.5) is an exact integer — power sums accumulate in
    * DECIMAL (exact, order-independent), and only the final corr formula
    * runs in doubles with the identical op tree on both engines. One
    * narrow unpivot + one 49-group aggregate; no extra shuffle beyond the
    * matrix itself. */
  def featImportanceCorr(s: SparkSession, dir: String): DataFrame =
    absCorrTopK(mlMatrix(s, dir), MlMatrixFeatures, "target", 20)

  /** |corr| screen core: exact-integer power sums over floor-form 10⁶-
    * scaled features (see [[featImportanceCorr]]'s recipe note).
    *
    * NOTE (r15, measured): restructuring this as ONE single-group
    * 150-buffer aggregate over the unstacked matrix (no 49× row
    * expansion) was TRIED and rejected — with codegen's default 100-field
    * ceiling the wide stage runs interpreted (6.2 s vs 3.2), and with the
    * ceiling raised it merely ties (3.0 vs 3.2): the tail is bound by the
    * exact-DECIMAL arithmetic (same multiply/accumulate count either
    * way), not by the stack shape. The stacked groupBy already collapses
    * map-side to 49 partial rows, so its exchange is negligible. */
  private[graft] def absCorrTopK(matrix: DataFrame, feats: Seq[String],
      target: String, k: Int): DataFrame = {
    val stackExpr = s"stack(${feats.size}, " + feats.map(f =>
      s"'$f', CAST(floor(CAST($f AS DOUBLE) * 1000000.0 + 0.5) AS DECIMAL(19,0))")
      .mkString(", ") + ") AS (feature, kx)"
    matrix
      .select(expr(stackExpr), col(target).cast("decimal(19,0)").as("ky"))
      .groupBy("feature")
      .agg(
        count(lit(1)).cast("double").as("nd"),
        sum(col("kx")).cast("double").as("sx"),
        sum(col("ky")).cast("double").as("sy"),
        sum(expr("kx * kx")).cast("double").as("sxx"),
        sum(expr("ky * ky")).cast("double").as("syy"),
        sum(expr("kx * ky")).cast("double").as("sxy"))
      .select(col("feature"), r6(expr(
        "CASE WHEN (nd * sxx - sx * sx) <= 0.0 OR (nd * syy - sy * sy) <= 0.0 " +
          "THEN 0.0 ELSE abs((nd * sxy - sx * sy) / " +
          "(sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy))) END"))
        .as("abs_corr"))
      .orderBy(col("abs_corr").desc, col("feature")).limit(k)
  }

  /** Features the [[mlFeatureBins]] discretizer reports on. */
  val FeatureBinCols: Seq[String] = Seq("rsi", "macd", "returns", "bb_width")

  /** Supervised quartile binning over the frozen [[mlMatrix]]: per feature,
    * the exact p25/p50/p75 thresholds and each quartile bin's row count and
    * target rate — the WoE-style diagnostic a feature-prep pass runs before
    * monotonic binning or calibration. Exactness: thresholds are Spark
    * `percentile` over the 6dp-rounded matrix values (bit-equal to DuckDB
    * `quantile_cont` — the agg_quantiles precedent); bin assignment is a
    * CASE over those identical doubles; target rate is an exact-integer
    * sum/count division. One unpivot + two feature-keyed aggregates; the
    * 4-row threshold table broadcasts back onto the stream. The stacked
    * matrix is checkpointed: it feeds BOTH the threshold aggregate and
    * the binning scan — without it the 49-feature pipeline underneath
    * [[mlMatrix]] evaluates twice (once inside the broadcast subquery).
    * localCheckpoint, not persist: persist would register in CacheManager
    * and serve this run's blocks to the next construction of the same
    * plan (Bench warm samples would measure a cache read), with no
    * unpersist point before the caller consumes the result. */
  def mlFeatureBins(s: SparkSession, dir: String): DataFrame = {
    val feats = FeatureBinCols
    val stackExpr = s"stack(${feats.size}, " +
      feats.map(f => s"'$f', CAST($f AS DOUBLE)").mkString(", ") +
      ") AS (feature, x)"
    val m = mlMatrix(s, dir)
      .select(expr(stackExpr), col("target").cast("long").as("y"))
      .pinned()
    val thresholds = m.groupBy("feature").agg(
      expr("percentile(x, 0.25)").as("p25"),
      expr("percentile(x, 0.5)").as("p50"),
      expr("percentile(x, 0.75)").as("p75"))
    m.join(broadcast(thresholds), Seq("feature"))
      .select(col("feature"), col("y"),
        when(col("x") <= col("p25"), lit(1))
          .when(col("x") <= col("p50"), lit(2))
          .when(col("x") <= col("p75"), lit(3))
          .otherwise(lit(4)).as("bin"))
      .groupBy("feature", "bin")
      .agg(count(lit(1)).as("n_rows"), sum(col("y")).as("n_pos"))
      .select(col("feature"), col("bin"), col("n_rows"), col("n_pos"),
        r6(col("n_pos").cast("double") / col("n_rows").cast("double"))
          .as("target_rate"))
      .orderBy("feature", "bin")
  }

  /** W2/W7/W13/W14: per-period momentum block. */
  def featMomentum(s: SparkSession, dir: String): DataFrame =
    family(s, dir, Features.MomentumCols)

  /** W4/W8/W9/W15-W17: returns + volatility block. */
  def featVolatility(s: SparkSession, dir: String): DataFrame =
    family(s, dir, Features.VolatilityCols)

  /** One family's columns selected from the fused 49-feature pipeline
    * (column pruning drops the windows the family does not read), r6-
    * rounded. */
  private def family(s: SparkSession, dir: String,
      names: Seq[String]): DataFrame =
    keyed(Features.computeAllFeatures(bars(s, dir)), names, names.toSet)

  /** VWAP block: cumulative + rolling volume-weighted average price and
    * close-to-VWAP distance (see [[graft.features.Market.withVwap]]). */
  def featVwap(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("vwap_cum", s"vwap_${graft.features.Market.VwapWindow}",
      "vwap_distance")
    keyed(Market.withVwap(bars(s, dir)), out, out.toSet)
  }

  /** Drawdown block: running peak close, drawdown from peak, worst drawdown
    * so far (see [[graft.features.Market.withDrawdown]]). */
  def featDrawdown(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("peak", "drawdown", "max_drawdown")
    keyed(Market.withDrawdown(bars(s, dir)), out, out.toSet)
  }

  /** ATR block: true range + 14-bar SMA-smoothed average true range
    * (see [[graft.features.Market.withAtr]]). */
  def featAtr(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("tr", s"atr_${graft.features.Market.AtrWindow}")
    keyed(Market.withAtr(bars(s, dir)), out, out.toSet)
  }

  /** Stochastic oscillator %K/%D over 14-bar extrema
    * (see [[graft.features.Market.withStochastic]]). */
  def featStochastic(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("pct_k", "pct_d")
    keyed(Market.withStochastic(bars(s, dir)), out, out.toSet)
  }

  /** Williams %R over 14-bar extrema
    * (see [[graft.features.Market.withWilliamsR]]). */
  def featWilliamsR(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withWilliamsR(bars(s, dir)), Seq("williams_r"),
      Set("williams_r"))

  /** Donchian channel over 20-bar extrema
    * (see [[graft.features.Market.withDonchian]]). */
  def featDonchian(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("donchian_high", "donchian_low", "donchian_mid",
      "donchian_pos")
    keyed(Market.withDonchian(bars(s, dir)), out, out.toSet)
  }

  /** Commodity Channel Index, 20-bar typical-price frame
    * (see [[graft.features.Market.withCci]]). */
  def featCci(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withCci(bars(s, dir)), Seq("cci"), Set("cci"))

  /** Ichimoku 9/26/52 cloud, causal (spans lagged 26 bars)
    * (see [[graft.features.Market.withIchimoku]]). */
  def featIchimoku(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("ichimoku_tenkan", "ichimoku_kijun",
      "ichimoku_senkou_a", "ichimoku_senkou_b")
    keyed(Market.withIchimoku(bars(s, dir)), out, out.toSet)
  }

  /** Keltner channels: EMA(tp, 20) ± 2·ATR(10)
    * (see [[graft.features.Market.withKeltner]]). */
  def featKeltner(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("keltner_mid", "keltner_high", "keltner_low", "keltner_pos")
    keyed(Market.withKeltner(bars(s, dir)), out, out.toSet)
  }

  /** Wilder ADX with ±DI (see [[graft.features.Market.withAdx]]). */
  def featAdx(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("plus_di", "minus_di", "adx")
    keyed(Market.withAdx(bars(s, dir)), out, out.toSet)
  }

  /** Amihud illiquidity ×1e6 over a 20-bar frame
    * (see [[graft.features.Market.withAmihud]]). */
  def featAmihud(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withAmihud(bars(s, dir)), Seq("amihud_20"),
      Set("amihud_20"))

  /** Roll implied spread over a 20-pair frame
    * (see [[graft.features.Market.withRollSpread]]). */
  def featRollSpread(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withRollSpread(bars(s, dir)), Seq("roll_spread_20"),
      Set("roll_spread_20"))

  /** Aroon up/down/oscillator over 25-bar extremum recency
    * (see [[graft.features.Market.withAroon]]). */
  def featAroon(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("aroon_up", "aroon_down", "aroon_osc")
    keyed(Market.withAroon(bars(s, dir)), out, out.toSet)
  }

  /** Vortex VI+/VI− over 14-bar movement/range sums
    * (see [[graft.features.Market.withVortex]]). */
  def featVortex(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("vi_plus", "vi_minus")
    keyed(Market.withVortex(bars(s, dir)), out, out.toSet)
  }

  /** Chaikin money flow over 20-bar flow/volume sums
    * (see [[graft.features.Market.withCmf]]). */
  def featCmf(s: SparkSession, dir: String): DataFrame = {
    val out = Seq(s"cmf_${graft.features.Market.CmfWindow}")
    keyed(Market.withCmf(bars(s, dir)), out, out.toSet)
  }

  /** Parkinson + Garman–Klass range volatility over 20 bars
    * (see [[graft.features.Market.withRangeVol]]). */
  def featRangeVol(s: SparkSession, dir: String): DataFrame = {
    val n = graft.features.Market.RangeVolWindow
    val out = Seq(s"parkinson_$n", s"garman_klass_$n")
    keyed(Market.withRangeVol(bars(s, dir)), out, out.toSet)
  }

  /** Ulcer index over 14-bar drawdowns
    * (see [[graft.features.Market.withUlcer]]). */
  def featUlcer(s: SparkSession, dir: String): DataFrame = {
    val out = Seq(s"ulcer_${graft.features.Market.UlcerWindow}")
    keyed(Market.withUlcer(bars(s, dir)), out, out.toSet)
  }

  /** TRIX — triple-EMA rate of change, span 15
    * (see [[graft.features.Market.withTrix]]). */
  def featTrix(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withTrix(bars(s, dir)), Seq("trix"), Set("trix"))

  /** True Strength Index — double-EMA momentum ratio, spans 25/13
    * (see [[graft.features.Market.withTsi]]). */
  def featTsi(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withTsi(bars(s, dir)), Seq("tsi"), Set("tsi"))

  /** Percentage Price Oscillator — normalized MACD, spans 12/26/9
    * (see [[graft.features.Market.withPpo]]). */
  def featPpo(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("ppo", "ppo_signal", "ppo_hist")
    keyed(Market.withPpo(bars(s, dir)), out, out.toSet)
  }

  /** Percentage Volume Oscillator — PPO on volume, spans 12/26/9
    * (see [[graft.features.Market.withPvo]]). */
  def featPvo(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("pvo", "pvo_signal", "pvo_hist")
    keyed(Market.withPvo(bars(s, dir)), out, out.toSet)
  }

  /** Klinger Volume Oscillator — trend-sign volume force EMAs 34/55/13
    * (see [[graft.features.Market.withKlinger]]). */
  def featKlinger(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("kvo", "klinger_signal")
    keyed(Market.withKlinger(bars(s, dir)), out, out.toSet)
  }

  /** Awesome Oscillator (SMA₅ − SMA₃₄ of median price; see
    * [[graft.features.Market.withAwesome]]). */
  def featAwesome(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withAwesome(bars(s, dir)), Seq("awesome"), Set("awesome"))

  /** Coppock curve (WMA(10) of ROC(14)+ROC(11); see
    * [[graft.features.Market.withCoppock]]). */
  def featCoppock(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("coppock_raw", "coppock")
    keyed(Market.withCoppock(bars(s, dir)), out, out.toSet)
  }

  /** Williams Alligator jaw/teeth/lips (three Wilder SMMAs, causally
    * displaced; see [[graft.features.Market.withAlligator]]). */
  def featAlligator(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withAlligator(bars(s, dir)),
      Seq("alligator_jaw", "alligator_teeth", "alligator_lips"),
      Set("alligator_jaw", "alligator_teeth", "alligator_lips"))

  /** Mass Index range-bulge detector (two chained EMA₉ passes + cum−lag
    * 25-sum; see [[graft.features.Market.withMassIndex]]). */
  def featMassIndex(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withMassIndex(bars(s, dir)), Seq("mass_index"),
      Set("mass_index"))

  /** Chandelier trailing stops, 22-bar extremes ± 3·ATR(22)
    * (see [[graft.features.Market.withChandelier]]). */
  def featChandelier(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withChandelier(bars(s, dir)),
      Seq("chandelier_long", "chandelier_short"),
      Set("chandelier_long", "chandelier_short"))

  /** Candlestick pattern flags (doji, hammer, engulfings — see
    * [[graft.features.Market.withCandles]]); all-integer output. */
  def barsCandles(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withCandles(bars(s, dir)),
      Seq("candle_doji", "candle_hammer", "candle_engulf_bull",
        "candle_engulf_bear"), Set.empty)

  /** StochRSI + smoothed %K, range 14 / SMA 3
    * (see [[graft.features.Market.withStochRsi]]). */
  def featStochRsi(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withStochRsi(bars(s, dir)),
      Seq("stochrsi", "stochrsi_k"), Set("stochrsi", "stochrsi_k"))

  /** DEMA + TEMA lag-compensated moving averages, span 20
    * (see [[graft.features.Market.withDemaTema]]). */
  def featDemaTema(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withDemaTema(bars(s, dir)),
      Seq("dema_20", "tema_20"), Set("dema_20", "tema_20"))

  /** Chande Momentum Oscillator over 14 deltas
    * (see [[graft.features.Market.withChande]]). */
  def featChande(s: SparkSession, dir: String): DataFrame = {
    val out = Seq(s"cmo_${graft.Params.ChandeWindow}")
    keyed(Market.withChande(bars(s, dir)), out, out.toSet)
  }

  /** Detrended Price Oscillator, 20-bar SMA displaced 11
    * (see [[graft.features.Market.withDpo]]). */
  def featDpo(s: SparkSession, dir: String): DataFrame = {
    val out = Seq(s"dpo_${graft.Params.DpoWindow}")
    keyed(Market.withDpo(bars(s, dir)), out, out.toSet)
  }

  /** Elder Ray bull/bear power vs a 13-bar EMA
    * (see [[graft.features.Market.withElderRay]]). */
  def featElderRay(s: SparkSession, dir: String): DataFrame = {
    val out = Seq(s"ema_${graft.Params.ElderSpan}", "elder_bull", "elder_bear")
    keyed(Market.withElderRay(bars(s, dir)), out, out.toSet)
  }

  /** Heikin-Ashi smoothed candles (recursive ha_open via the Ewma
    * expression; see [[graft.features.Market.withHeikinAshi]]). */
  def featHeikinAshi(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("ha_open", "ha_high", "ha_low", "ha_close")
    keyed(Market.withHeikinAshi(bars(s, dir)), out, out.toSet)
  }

  /** Time-under-water drawdown duration
    * (see [[graft.features.Market.withUnderwater]]). */
  def featUnderwater(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withUnderwater(bars(s, dir)),
      Seq("peak", "underwater_bars", "is_underwater"), Set("peak"))

  /** Volume-weighted moving average
    * (see [[graft.features.Market.withVwma]]). */
  def featVwma(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("vwma_20", "vwma_distance")
    keyed(Market.withVwma(bars(s, dir)), out, out.toSet)
  }

  /** Ease of Movement (see [[graft.features.Market.withEom]]). */
  def featEom(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("emv", "emv_sma_14")
    keyed(Market.withEom(bars(s, dir)), out, out.toSet)
  }

  /** Qstick candle-body pressure
    * (see [[graft.features.Market.withQstick]]). */
  def featQstick(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withQstick(bars(s, dir)),
      Seq("body", "direction", "qstick_10"), Set("body", "qstick_10"))

  /** Vertical Horizontal Filter trendiness
    * (see [[graft.features.Market.withVhf]]). */
  def featVhf(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withVhf(bars(s, dir)), Seq("vhf_28"), Set("vhf_28"))

  /** Ultimate Oscillator (see [[graft.features.Market.withUltimate]]). */
  def featUltimate(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withUltimate(bars(s, dir)),
      Seq("ultimate_osc"), Set("ultimate_osc"))

  /** Know Sure Thing + signal (see [[graft.features.Market.withKst]]). */
  def featKst(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("kst", "kst_signal")
    keyed(Market.withKst(bars(s, dir)), out, out.toSet)
  }

  /** Hull Moving Average (see [[graft.features.Market.withHull]]). */
  def featHull(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("hma_raw", "hma_16")
    keyed(Market.withHull(bars(s, dir)), out, out.toSet)
  }

  /** Elder Force Index (see [[graft.features.Market.withForce]]). */
  def featForce(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("force_raw", "force_13")
    keyed(Market.withForce(bars(s, dir)), out, out.toSet)
  }

  /** Chaikin Oscillator over the A/D line
    * (see [[graft.features.Market.withChaikinOsc]]). */
  def featChaikinOsc(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("ad_line", "chaikin_osc")
    keyed(Market.withChaikinOsc(bars(s, dir)), out, out.toSet)
  }

  /** Negative/Positive Volume Index
    * (see [[graft.features.Market.withVolumeIndex]]). */
  def featNviPvi(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("nvi", "pvi")
    keyed(Market.withVolumeIndex(bars(s, dir)), out, out.toSet)
  }

  /** GARCH(1,1) conditional volatility filter
    * (see [[graft.features.Market.withGarch]]). */
  def featGarch(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("garch_var", "garch_vol")
    keyed(Market.withGarch(bars(s, dir)), out, out.toSet)
  }

  /** ConnorsRSI composite
    * (see [[graft.features.Market.withConnorsRsi]]). */
  def featConnorsRsi(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("crsi_rsi", "crsi_streak_rsi", "crsi_pct_rank", "crsi")
    keyed(Market.withConnorsRsi(bars(s, dir)), out, out.toSet)
  }

  /** Volatility of volatility
    * (see [[graft.features.Market.withVolOfVol]]). */
  def featVolOfVol(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("vol_20", "vol_of_vol_20")
    keyed(Market.withVolOfVol(bars(s, dir)), out, out.toSet)
  }

  /** Session-anchored intraday VWAP
    * (see [[graft.features.Market.withAnchoredVwap]]). */
  def barsAnchoredVwap(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("anchored_vwap", "avwap_distance")
    keyed(Market.withAnchoredVwap(bars(s, dir)), out, out.toSet)
  }

  /** Rolling Sharpe / Sortino ratios
    * (see [[graft.features.Market.withRiskAdj]]). */
  def featRiskadj(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("downside_dev_20", "sharpe_20", "sortino_20")
    keyed(Market.withRiskAdj(bars(s, dir)), out, out.toSet)
  }

  /** Causal ZigZag swing legs
    * (see [[graft.features.Market.withZigzag]]). */
  def featZigzag(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withZigzag(bars(s, dir)),
      Seq("zz_dir", "zz_extreme", "zz_reversal"), Set("zz_extreme"))

  /** Renko brick stream: last-brick anchor, side, bricks completed per row
    * and the running brick count (see [[graft.features.Market.withRenko]]
    * and the [[graft.expr.Renko]] state machine; the oracle replays the
    * recursion as a recursive CTE with identical floor/branch trees). */
  def barsRenko(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withRenko(bars(s, dir)),
      Seq("renko_anchor", "renko_dir", "renko_bricks", "renko_count"),
      Set("renko_anchor"))

  /** Choppiness Index (see [[graft.features.Market.withChoppiness]]). */
  def featChoppiness(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withChoppiness(bars(s, dir)),
      Seq("chop_14"), Set("chop_14"))

  /** Relative volume vs the symbol's same-hour-of-day average — the
    * seasonality-adjusted liquidity signal (rvol ≫ 1 = unusual activity
    * for this time of day). The (symbol, hour) profile is a tiny
    * partial+final aggregate broadcast back onto the bars (no second
    * shuffle of the stream); volume sums are integer-valued doubles, so
    * the profile is exact and the one division bit-portable. Gated on a
    * positive profile (an all-zero-volume slot has no baseline). */
  def featRvol(s: SparkSession, dir: String): DataFrame = {
    val b = bars(s, dir).select(col("symbol"), col("event_id"),
        hour(col("datetime")).cast("long").as("hod"), col("volume"))
    val prof = b.groupBy("symbol", "hod")
      .agg(sum(col("volume")).as("_sv"), count(lit(1)).as("_n"))
      .select(col("symbol"), col("hod"), (col("_sv") / col("_n")).as("_avg"))
    b.join(broadcast(prof), Seq("symbol", "hod"))
      .select(col("symbol"), col("event_id"), col("hod"), col("volume"),
        r6(when(col("_avg") > 0.0, col("volume") / col("_avg"))).as("rvol"))
      .orderBy("event_id")
  }

  /** Volatility-squeeze flag: Bollinger inside original-form Keltner
    * (see [[graft.features.Market.withSqueeze]]). */
  def featSqueeze(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("bb_upper", "bb_lower", "kel_high", "kel_low", "squeeze_on")
    keyed(Market.withSqueeze(bars(s, dir)), out,
      Set("bb_upper", "bb_lower", "kel_high", "kel_low"))
  }

  /** Parabolic SAR line + regime (see [[graft.features.Market.withPsar]]). */
  def featPsar(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withPsar(bars(s, dir)), Seq("psar", "psar_trend"),
      Set("psar"))

  /** Information-driven dollar bars (López de Prado): resample each
    * symbol's tick stream by CUMULATIVE traded dollar value instead of
    * wall-clock — liquid regimes get more bars, quiet ones fewer. The
    * bucket index is floor(cum(close·volume)/T); the running cumsum is the
    * sequential per-symbol fold (bit-portable via the oracle's list_sum),
    * then one partial+final OHLCV aggregate per (symbol, bucket):
    * open/close by arg-min/max on event_id (key-deterministic),
    * high/low/volume order-insensitive, the dollar sum r4-rounded (grouped
    * double sums land inside the rounding box, the agg_stats precedent). */
  def barsDollar(s: SparkSession, dir: String,
      t: Double = graft.Params.DollarBarSize): DataFrame = {
    val running = graft.features.Frames.bySymbol.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val withCum = bars(s, dir).select(col("symbol"), col("event_id"),
        col("datetime"), col("close"), col("volume"),
        (col("close") * col("volume")).as("_d"))
      .select(col("*"), sum(col("_d")).over(running).as("_cum"))
    withCum
      .select(col("symbol"), col("event_id"), col("close"), col("volume"),
        col("_d"), floor(col("_cum") / t).cast("long").as("bar_id"))
      .groupBy("symbol", "bar_id")
      .agg(count(lit(1)).as("n_ticks"),
        r6(min_by(col("close"), col("event_id"))).as("open"),
        r6(max(col("close"))).as("high"),
        r6(min(col("close"))).as("low"),
        r6(max_by(col("close"), col("event_id"))).as("close"),
        sum(col("volume")).as("volume"),
        r4(sum(col("_d"))).as("dollar"))
      .orderBy("symbol", "bar_id")
  }

  /** VPIN — volume-synchronized probability of informed trading (Easley,
    * López de Prado & O'Hara 2012): ticks are tick-rule signed
    * (Δclose > 0 buy, < 0 sell, flat unsigned), grouped into equal-VOLUME
    * buckets (floor of the running volume cumsum — the [[barsDollar]]
    * monotone-bucket trick on volume), and VPIN at bucket b is the
    * order-flow imbalance share over the trailing `n` buckets:
    * Σ|buy−sell| / Σvolume. The flow-toxicity monitor that front-ran the
    * 2010 flash crash.
    *
    * Everything is integer-valued doubles (synthetic volume is integral):
    * running cums, per-bucket sums and the 10-bucket sliding sums are all
    * exact in ANY association order, so no sequential-fold machinery is
    * needed anywhere — two window passes and one aggregate, all on the
    * symbol exchange. */
  def featVpin(s: SparkSession, dir: String,
      v: Double = 5000.0, n: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = graft.features.Frames.bySymbol
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("close"), 1).over(w)
    val signed = bars(s, dir).select(col("symbol"), col("event_id"),
        col("datetime"), col("volume"),
        when(col("close") > prev, 1).when(col("close") < prev, -1)
          .otherwise(0).as("_sgn"))
      .withColumn("_cumv", sum(col("volume")).over(running))
    val buckets = signed
      .select(col("symbol"), col("volume"), col("_sgn"),
        floor(col("_cumv") / v).cast("long").as("bar_id"))
      .groupBy("symbol", "bar_id")
      .agg(sum(when(col("_sgn") === 1, col("volume")).otherwise(lit(0.0)))
          .as("buy_vol"),
        sum(when(col("_sgn") === -1, col("volume")).otherwise(lit(0.0)))
          .as("sell_vol"),
        sum(col("volume")).as("vtot"))
    val frame = Window.partitionBy("symbol").orderBy("bar_id")
      .rowsBetween(-(n - 1), 0)
    buckets
      .select(col("symbol"), col("bar_id"), col("buy_vol"), col("sell_vol"),
        col("vtot"),
        sum(abs(col("buy_vol") - col("sell_vol"))).over(frame).as("_rimb"),
        sum(col("vtot")).over(frame).as("_rv"),
        count(lit(1)).over(frame).as("_cnt"))
      .select(col("symbol"), col("bar_id"), col("buy_vol"), col("sell_vol"),
        col("vtot"),
        r6(when(col("_cnt") === n && col("_rv") > 0.0,
          col("_rimb") / col("_rv"))).as("vpin"))
      .orderBy("symbol", "bar_id")
  }

  /** Tick-imbalance bars (López de Prado 2018 ch. 2): a bar closes whenever
    * the running SIGNED tick count |Σ sign(Δclose)| since the last close
    * reaches T — bursts of one-sided flow get more bars. Unlike
    * [[barsDollar]]'s monotone cumsum, the reset makes boundaries
    * recursive, so numbering runs through the custom
    * [[graft.expr.ThresholdReset]] window expression; then the same
    * key-deterministic OHLCV aggregate per (symbol, bar). */
  def barsImbalance(s: SparkSession, dir: String,
      t: Double = graft.Params.ImbalanceThreshold): DataFrame = {
    import graft.features.Frames
    val b = bars(s, dir).select(col("symbol"), col("event_id"),
      col("datetime"), col("close"), col("volume"))
    val tick = signum(col("close") - lag(col("close"), 1).over(Frames.bySymbol))
    val s1 = b.select(col("*"), tick.as("_tick"))
    val s2 = s1.select(col("*"),
      graft.expr.ThresholdReset.over(col("_tick"), t,
        Seq(col(Frames.SymbolCol)),
        Seq(col(Frames.TimeCol), col(Frames.TieCol))).as("bar_id"))
    s2.groupBy("symbol", "bar_id")
      .agg(count(lit(1)).as("n_ticks"),
        sum(coalesce(col("_tick"), lit(0.0))).as("imbalance"),
        r6(min_by(col("close"), col("event_id"))).as("open"),
        r6(max(col("close"))).as("high"),
        r6(min(col("close"))).as("low"),
        r6(max_by(col("close"), col("event_id"))).as("close"),
        sum(col("volume")).as("volume"))
      .orderBy("symbol", "bar_id")
  }

  /** Purged K-fold CV with embargo (López de Prado 2018): test block f,
    * EMBARGO rows on each side excluded from training (leakage guard for
    * overlapping-label time series), train = everything else. Global row
    * numbers via the scalable range-bucket scheme (graft.analytics.Ranking
    * — no single-partition window); one explode over the k folds, pure
    * integer boundary arithmetic (`div`), so roles are exact on both
    * engines. */
  def cvPurged(s: SparkSession, dir: String,
      k: Int = graft.Params.PurgedFolds): DataFrame = {
    val ev = graft.source.Bars.readEvents(s, dir)
      .select(col("event_id"), col("ts"))
    val (numbered, n) = graft.analytics.Ranking.withGlobalRowNumber(
      ev, unix_micros(col("ts")), Seq(col("ts"), col("event_id")))
    val e = n / graft.Params.EmbargoFrac
    val start = expr(s"(fold - 1L) * ${n}L div ${k}L + 1L")
    val end = expr(s"fold * ${n}L div ${k}L")
    numbered.pinned()
      .select(col("rn"), col("event_id"),
        explode(expr(s"sequence(1L, ${k}L)")).as("fold"))
      .select(col("fold"), col("event_id"),
        when(col("rn") >= start && col("rn") <= end, "test")
          .when(col("rn") >= start - e && col("rn") <= end + e, "embargo")
          .otherwise("train").as("role"))
      .orderBy("fold", "event_id")
  }

  /** Threshold-grid ROC curve for a deterministic momentum score against
    * the next-bar-up label — the model-eval primitive computed WITHOUT a
    * global sort: instead of ranking all rows (the single-partition trap at
    * 100 TB), the score range is cut into k+1 evenly spaced thresholds
    * (1-row min/max broadcast), each row fans out to the grid (narrow
    * explode), and one (k+1)-group aggregate with map-side partials counts
    * TP/FP per threshold. All counting exact integers; the threshold
    * doubles derive from the same (lo, hi, j) tree in both engines, so the
    * score >= threshold comparisons branch identically. */
  def mlRoc(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val w = graft.features.Frames.bySymbol
    val scored = bars(s, dir).select(
        (col("close") - lag(col("close"), 5).over(w)).as("score"),
        (lead(col("close"), 1).over(w) > col("close")).cast("int").as("label"))
      .filter(col("score").isNotNull && col("label").isNotNull)
    val mm = scored.agg(min("score").as("lo"), max("score").as("hi"))
    val grid = scored.crossJoin(broadcast(mm))
      .select(col("score"), col("label"), col("lo"), col("hi"),
        explode(expr(s"sequence(0, $k)")).as("j"))
      .select(col("score"), col("label"), col("lo"), col("hi"),
        col("j").cast("long").as("j"))
    val thr = col("lo") + (col("hi") - col("lo")) * col("j").cast("double") / k
    grid.groupBy("j")
      .agg(r6(max(thr)).as("threshold"),
        count(when(col("score") >= thr && col("label") === 1, 1)).as("tp"),
        count(when(col("score") >= thr && col("label") === 0, 1)).as("fp"),
        count(when(col("label") === 1, 1)).as("pos"),
        count(when(col("label") === 0, 1)).as("neg"))
      .select(col("j"), col("threshold"), col("tp"), col("fp"),
        r6(col("tp").cast("double") / col("pos")).as("tpr"),
        r6(col("fp").cast("double") / col("neg")).as("fpr"),
        r6(when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp")))).as("precision"))
      .orderBy("j")
  }

  /** Exact distributed AUC via the Mann-Whitney rank-sum — no threshold
    * grid, no approximation: AUC = (Σ ranks(positives) − P(P+1)/2) / (P·N).
    * Global score ranks come from the scalable bucket-offset numbering
    * ([[graft.analytics.Ranking.withGlobalRowNumber]] — no single-partition
    * window), ties broken by event_id so both engines rank identically.
    * Everything is exact integer arithmetic up to one final division
    * (`div`-form U statistic; the rank-product denominator goes through
    * doubles to dodge the P·N long overflow at extreme scale). */
  def mlAuc(s: SparkSession, dir: String): DataFrame = {
    val w = graft.features.Frames.bySymbol
    val scored = bars(s, dir).select(col("event_id"),
        (col("close") - lag(col("close"), 5).over(w)).as("score"),
        (lead(col("close"), 1).over(w) > col("close")).cast("int").as("label"))
      .filter(col("score").isNotNull && col("label").isNotNull)
    val (numbered, _) = graft.analytics.Ranking.withGlobalRowNumber(
      scored, col("score"), Seq(col("score"), col("event_id")))
    numbered.agg(
        sum(when(col("label") === 1, col("rn"))).as("rank_sum"),
        count(when(col("label") === 1, 1)).as("npos"),
        count(when(col("label") === 0, 1)).as("nneg"))
      .select(col("npos"), col("nneg"),
        expr("rank_sum - (npos * (npos + 1L)) div 2L").as("u_stat"))
      .select(col("npos"), col("nneg"), col("u_stat"),
        r6(col("u_stat").cast("double") /
          (col("npos").cast("double") * col("nneg").cast("double"))).as("auc"))
  }

  /** Decile gains/lift table: rows ranked by score (decile 1 = top 10%),
    * per-decile positive rate vs the base rate, cumulative gains curve.
    * Deciles are EXACT — integer `div` over the scalable global row number,
    * not approximate quantiles — so both engines bucket identically. The
    * cumulative/total windows run over the 10-row aggregate (integer sums,
    * order-insensitive), never over the raw rows. */
  def mlLift(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = graft.features.Frames.bySymbol
    val scored = bars(s, dir).select(col("event_id"),
        (col("close") - lag(col("close"), 5).over(w)).as("score"),
        (lead(col("close"), 1).over(w) > col("close")).cast("int").as("label"))
      .filter(col("score").isNotNull && col("label").isNotNull)
    val (numbered, n) = graft.analytics.Ranking.withGlobalRowNumber(
      scored, col("score"), Seq(col("score"), col("event_id")))
    val agg = numbered
      .select(col("label"),
        expr(s"${k}L - ((rn - 1L) * ${k}L) div ${n}L").as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("label") === 1, 1)).as("n_pos"))
    val cumW = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    agg.select(col("decile"), col("n_rows"), col("n_pos"),
        sum(col("n_pos")).over(cumW).as("cum_pos"),
        sum(col("n_pos")).over(allW).as("tot_pos"),
        sum(col("n_rows")).over(allW).as("tot_rows"))
      .select(col("decile"), col("n_rows"), col("n_pos"), col("cum_pos"),
        r6(col("cum_pos").cast("double") / col("tot_pos")).as("cum_gain"),
        r6((col("n_pos").cast("double") / col("n_rows")) /
          (col("tot_pos").cast("double") / col("tot_rows"))).as("lift"))
      .orderBy("decile")
  }

  /** Exact average precision (PR-AUC in its AP step form) for the same
    * momentum score / next-bar-up label as [[mlAuc]]: rank all rows by
    * score DESC (ties by event_id), then AP = (1/P) Σ_i i / r_i over the
    * positives, where r_i is the i-th positive's global rank. AP is the
    * class-imbalance-honest companion to ROC-AUC — at a 1:10⁴ positive
    * rate (fraud, rare-event labels at 100 TB) ROC saturates while AP
    * still separates models.
    *
    * Both rank tables come from the scalable bucket-offset numbering (no
    * single-partition sort): one pass over all scored rows keyed on
    * −score, a second over the positives keyed on the first rank (already
    * monotone). Every rank is an exact integer on both engines; the only
    * float surface is the final mean of P precision ratios — orders below
    * the 6-decimal floor. */
  def mlPrAuc(s: SparkSession, dir: String): DataFrame = {
    val w = graft.features.Frames.bySymbol
    prAuc(bars(s, dir).select(col("event_id"),
        (col("close") - lag(col("close"), 5).over(w)).as("score"),
        (lead(col("close"), 1).over(w) > col("close")).cast("int").as("label"))
      .filter(col("score").isNotNull && col("label").isNotNull))
  }

  /** AP core over a (event_id, score, label) frame — exposed so the spec
    * can replay planted rankings through the exact production path. */
  private[graft] def prAuc(scored: DataFrame): DataFrame = {
    val (numbered, _) = graft.analytics.Ranking.withGlobalRowNumber(
      scored, -col("score"), Seq(col("score").desc, col("event_id")))
    val pos = numbered.filter(col("label") === 1)
    val (posN, _) = graft.analytics.Ranking.withGlobalRowNumber(
      pos, col("rn").cast("double"), Seq(col("rn")), rnCol = "pos_rn")
    posN.agg(count(lit(1)).as("npos"),
        sum(col("pos_rn").cast("double") / col("rn").cast("double")).as("ap_sum"))
      .select(col("npos"),
        r6(col("ap_sum") / col("npos").cast("double")).as("ap"))
  }

  /** NDCG@100 for the momentum score against GRADED relevance — the
    * ranking-eval companion to the binary-label [[mlAuc]]/[[mlPrAuc]]:
    * relevance = exact forward-return quartile (0..3, integer `div` over
    * the scalable global numbering, so grading is bit-identical on both
    * engines), DCG = Σ (2^gain − 1)/log₂(rank+1) over the top-100 by
    * score, IDCG the same over the top-100 by gain, NDCG their ratio.
    *
    * Scale shape: one bucket-offset numbering pass to grade (no global
    * sort), then two TakeOrderedAndProject top-100s — per-partition
    * partial top-k, driver merges k·P candidates; the per-rank window
    * runs over 100 rows. The float surface is 100 per-term divisions
    * summed once — orders below the 6-decimal floor. */
  def mlNdcg(s: SparkSession, dir: String, k: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = graft.features.Frames.bySymbol
    val scored = bars(s, dir).select(col("event_id"),
        (col("close") - lag(col("close"), 5).over(w)).as("score"),
        ((lead(col("close"), 1).over(w) - col("close")) / col("close"))
          .as("fwd"))
      .filter(col("score").isNotNull && col("fwd").isNotNull)
    val (numbered, n) = graft.analytics.Ranking.withGlobalRowNumber(
      scored, col("fwd"), Seq(col("fwd"), col("event_id")))
    val graded = numbered.select(col("event_id"), col("score"),
      expr(s"((rn - 1L) * 4L) div ${n}L").as("gain")).pinned()
    def dcgOf(top: DataFrame, order: Seq[Column], alias: String): DataFrame =
      top.limit(k)
        .select(col("gain"), row_number().over(Window.orderBy(order: _*))
          .cast("long").as("r"))
        .agg(sum((pow(lit(2.0), col("gain")) - 1.0) /
          log2(col("r").cast("double") + 1.0)).as(alias))
    val byScore = Seq(col("score").desc, col("event_id"))
    val byGain = Seq(col("gain").desc, col("event_id"))
    dcgOf(graded.orderBy(byScore: _*), byScore, "dcg")
      .crossJoin(dcgOf(graded.orderBy(byGain: _*), byGain, "idcg"))
      .select(lit(k.toLong).as("k"), r6(col("dcg")).as("dcg"),
        r6(col("idcg")).as("idcg"),
        r6(col("dcg") / col("idcg")).as("ndcg"))
  }

  /** Fisher transform + signal line (two chained Ewma recursions;
    * see [[graft.features.Market.withFisher]]). */
  def featFisher(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("fisher", "fisher_signal")
    keyed(Market.withFisher(bars(s, dir)), out, out.toSet)
  }

  /** Kyle's lambda — rolling price-impact OLS slope ×1e6
    * (see [[graft.features.Market.withKyleLambda]]). */
  def featKyleLambda(s: SparkSession, dir: String): DataFrame = {
    val out = Seq(s"kyle_${graft.features.Market.KyleWindow}")
    keyed(Market.withKyleLambda(bars(s, dir)), out, out.toSet)
  }

  /** Supertrend trailing-stop line + regime (custom conditional-recursion
    * window expression; see [[graft.features.Market.withSupertrend]]). */
  def featSupertrend(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withSupertrend(bars(s, dir)),
      Seq("supertrend", "st_trend"), Set("supertrend"))

  /** Floor-trader pivot points from the prior day's OHLC
    * (see [[graft.features.Market.withPivotPoints]]). */
  def featPivotPoints(s: SparkSession, dir: String): DataFrame = {
    val out = Seq("pivot", "pivot_r1", "pivot_s1", "pivot_r2", "pivot_s2")
    keyed(Market.withPivotPoints(bars(s, dir)), out, out.toSet)
  }

  /** Out-of-fold target encoding: each row's symbol encoding is the mean
    * classification target over the OTHER k−1 md5-assigned folds — the
    * k-fold leakage guard production pipelines use where leave-one-out
    * ([[targetEncode]]) is too fine-grained. (symbol × fold) sums are a
    * tiny broadcast frame; integer target sums are fp-exact under any
    * aggregation order, so the encoding is bit-portable. NULL when the
    * other folds hold no rows of the symbol. */
  def targetEncodeOof(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val t = Targets.withTarget(bars(s, dir), targetType = "classification")
      .select(col("symbol"), col("event_id"), col("target").cast("long").as("target"))
      .withColumn("fold",
        expr("CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 8), 16, 10) AS BIGINT)") % k)
    val byFold = t.groupBy("symbol", "fold")
      .agg(sum(col("target")).as("f_sum"), count(lit(1)).as("f_cnt"))
    val bySym = byFold.groupBy("symbol")
      .agg(sum(col("f_sum")).as("s_sum"), sum(col("f_cnt")).as("s_cnt"))
    t.join(broadcast(byFold), Seq("symbol", "fold"))
      .join(broadcast(bySym), Seq("symbol"))
      .select(col("event_id"), col("symbol"), col("fold"), col("target"),
        r6(try_divide((col("s_sum") - col("f_sum")).cast("double"),
          (col("s_cnt") - col("f_cnt")).cast("double"))).as("oof_target_enc"))
      .orderBy("event_id")
  }

  /** On-balance volume (see [[graft.features.Market.withObv]]). */
  def featObv(s: SparkSession, dir: String): DataFrame =
    keyed(Market.withObv(bars(s, dir)), Seq("obv"), Set("obv"))

  /** Money Flow Index over 14-bar flow sums
    * (see [[graft.features.Market.withMfi]]). */
  def featMfi(s: SparkSession, dir: String): DataFrame = {
    val out = Seq(s"mfi_${graft.features.Market.MfiWindow}")
    keyed(Market.withMfi(bars(s, dir)), out, out.toSet)
  }

  /** F1-F3: calendar + cyclic encodings (narrow, no shuffle). */
  def featTemporal(s: SparkSession, dir: String): DataFrame =
    Temporal.withTemporal(bars(s, dir))
      .select(col("event_id") +: (Features.CalendarCols.map(col) ++
        Features.CyclicCols.map(n => r6(col(n)).as(n))): _*)
      .orderBy("event_id")

  /** W7/W8/W12: Bollinger bands. */
  def featBollinger(s: SparkSession, dir: String): DataFrame =
    family(s, dir, Features.BollingerCols)

  /** W1/W5/W10: RSI (custom Ewma adjust=false). Oracle: recursive-CTE
    * recurrence replay (OracleSql.featRsi) + EwmaSpec golden vectors. */
  def featRsi(s: SparkSession, dir: String): DataFrame =
    family(s, dir, Features.RsiCols)

  /** W6/W11: MACD (custom Ewma adjust=true, two window passes). Oracle:
    * recursive-CTE recurrence replay (OracleSql.featMacd). */
  def featMacd(s: SparkSession, dir: String): DataFrame =
    family(s, dir, Features.MacdCols)

  /** W3/W18: forward-return classification target. */
  def targetsClassification(s: SparkSession, dir: String): DataFrame =
    keyed(Targets.withTarget(bars(s, dir), targetType = "classification"),
      Seq("target"), Set.empty)

  /** W18 (regression flavor). */
  def targetsRegression(s: SparkSession, dir: String): DataFrame =
    keyed(Targets.withTarget(bars(s, dir), targetType = "regression"),
      Seq("target"), Set("target"))

  /** W19: temporal ordered 80/20 split (shuffle=False,
    * reference src/ml/training.py:60-62). The global row numbering comes
    * from Ranking.withGlobalRowNumber — range-bucket + per-bucket offsets —
    * so no row ever passes through a single-partition window; the oracle's
    * `ROW_NUMBER() OVER (ORDER BY ts, event_id)` still matches exactly
    * because the numbering is identical, only the plan differs. */
  def temporalSplit(s: SparkSession, dir: String): DataFrame = {
    val ev = Bars.readEvents(s, dir).select(col("event_id"), col("ts"))
    val (withRn, n) = graft.analytics.Ranking.withGlobalRowNumber(
      ev, unix_micros(col("ts")), Seq(col("ts"), col("event_id")))
    val cut = math.floor((1.0 - Params.TestSize) * n).toLong
    withRn.select(col("event_id"),
        when(col("rn") <= cut, "train").otherwise("test").as("split"))
      .orderBy("event_id")
  }

  /** Leakage-free feature scaling: z-score `close` per symbol with
    * statistics computed on the TEMPORAL TRAIN SPLIT ONLY, then applied to
    * every row — the fit-on-train/transform-everything discipline the
    * reference's scaler step implies (train.py fits before transform; a
    * stat computed over test rows would leak the future into the features).
    * Train stats per symbol are a broadcast-sized table, so the transform
    * is one narrow projection after a broadcast join; the split numbering
    * is the scalable bucketed row-number, not a single-partition window. */
  def mlScaleTrain(s: SparkSession, dir: String): DataFrame = {
    val b = bars(s, dir).select(col("symbol"), col("event_id"),
      col("datetime"), col("close"))
    val (withRn, n) = graft.analytics.Ranking.withGlobalRowNumber(
      b, unix_micros(col("datetime")), Seq(col("datetime"), col("event_id")))
    val cut = math.floor((1.0 - Params.TestSize) * n).toLong
    val split = withRn.withColumn("split",
      when(col("rn") <= cut, "train").otherwise("test"))
    val stats = split.filter(col("split") === "train")
      .groupBy("symbol")
      .agg(count(lit(1)).as("n"), sum(col("close")).as("s1"),
        sum(col("close") * col("close")).as("s2"))
      .select(col("symbol"), (col("s1") / col("n")).as("mu"),
        sqrt(greatest((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1),
          lit(0.0))).as("sd"))
    split.join(broadcast(stats), Seq("symbol"), "left")
      .select(col("event_id"), col("symbol"), col("split"),
        r6(try_divide(col("close") - col("mu"), col("sd"))).as("close_z"))
      .orderBy("event_id")
  }

  /** Leave-one-out target encoding of the symbol category: each row's
    * encoding is the mean classification target of its symbol EXCLUDING
    * the row itself — the standard leakage guard for categorical mean
    * encodings (a plain group mean would let every row see its own label).
    * Integer target sums are fp-exact under any aggregation order, so the
    * encoding is bit-portable; a single-row group encodes as NULL (0/0). */
  def targetEncode(s: SparkSession, dir: String): DataFrame = {
    val t = Targets.withTarget(bars(s, dir), targetType = "classification")
      .select(col("symbol"), col("event_id"), col("target").cast("long").as("target"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("symbol")
    t.select(col("event_id"), col("symbol"), col("target"),
        r6(try_divide((sum(col("target")).over(w) - col("target")).cast("double"),
          (count(lit(1)).over(w) - 1).cast("double"))).as("loo_target_enc"))
      .orderBy("event_id")
  }

  /** Corporate-action back-adjustment: divide every bar's close by the
    * compound split factor of all splits occurring STRICTLY AFTER it — the
    * standard continuous-price adjustment that makes pre-split and
    * post-split bars comparable for feature computation. Split events are
    * a deterministic fixture (every 997th event is a 2:1 split); factors
    * are powers of two, so the compound factor is EXACT under any
    * evaluation order (an integer exponent sum + one pow(2, k), no float
    * product chain) — the formulation a 100 TB backfill wants anyway,
    * since a running float product would drift and resist re-ordering.
    *
    * The suffix count is computed as per-symbol TOTAL − inclusive prefix
    * sum (two O(n) frames over one exchange), NOT as a
    * `(1 FOLLOWING, UNBOUNDED FOLLOWING)` frame — Spark executes that
    * frame shape by rescanning the remainder of the partition for every
    * row (O(n²) per symbol; measured 2.5 s vs 0.5 s at sf0.1, and fatal
    * at real partition sizes). Integer arithmetic, so the two
    * formulations are value-identical. */
  def barsAdjust(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val full = Window.partitionBy("symbol")
    val run = Window.partitionBy("symbol")
      .orderBy(col("datetime"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bars(s, dir)
      .select(col("symbol"), col("event_id"), col("datetime"), col("close"),
        when(col("event_id") % 997 === 0, 1L).otherwise(0L).as("split_exp"))
      .select(col("symbol"), col("event_id"), col("close"), col("split_exp"),
        (sum(col("split_exp")).over(full) -
          sum(col("split_exp")).over(run)).as("k"))
      .select(col("symbol"), col("event_id"),
        (col("split_exp") === 1L).as("is_split"),
        col("k").as("n_future_splits"),
        r6(col("close")).as("close"),
        r6(col("close") / pow(lit(2.0), col("k").cast("double"))).as("adj_close"))
      .orderBy("event_id")
  }

  /** Class-imbalance correction: downsample every class to the minority
    * class's row count, selecting per class the rows with the smallest
    * md5(event_id) — a deterministic uniform draw without replacement
    * (same discipline as [[graft.analytics.Sampling.stratifiedByHash]]:
    * hash order, never rand(), so a re-run after a failure keeps the same
    * rows). The quota rides along as a broadcast 1-row frame, so the plan
    * stays lazy end to end — no driver-side collect.
    *
    * The exact per-class rank comes from ONE range-bucket global numbering
    * ([[graft.analytics.Ranking.withGlobalRowNumber]]) over the composite
    * order (target, md5, event_id) — NOT from a `row_number() OVER
    * (PARTITION BY target ...)` window, which with a binary target funnels
    * the whole table through two reducers. The bucketing key
    * target·2^32 + int(md5[0:8]) is order-monotone w.r.t. that composite
    * order (the md5-prefix integer is order-monotone w.r.t. the full hex
    * string, and both addends fit a double exactly), so global rank minus
    * the class's starting offset (= rows in lower classes, from the same
    * tiny counts frame that yields the quota) IS the per-class rank the
    * oracle's single window evaluates — one fully parallel numbering pass. */
  def classBalance(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Targets.withTarget(bars(s, dir), targetType = "classification")
      .select(col("event_id"), col("symbol"), col("target").cast("long").as("target"))
    // O(classes) frame: per-class count → minority quota + class start offset
    val wOff = Window.orderBy("target")
      .rowsBetween(Window.unboundedPreceding, -1)
    val quota = t.groupBy("target").agg(count(lit(1)).as("cnt"))
      .select(col("target"),
        coalesce(sum(col("cnt")).over(wOff), lit(0L)).as("class_offset"),
        min(col("cnt")).over(Window.partitionBy()).as("min_cnt"))
    val keyed = t
      .withColumn("_h", md5(col("event_id").cast("string")))
      .withColumn("_hk", expr("CAST(conv(substring(_h, 1, 8), 16, 10) AS BIGINT)"))
    val ranked = graft.analytics.Ranking.withGlobalRowNumber(
      keyed, col("target") * lit(4294967296L) + col("_hk"),
      Seq(col("target"), col("_h"), col("event_id")))._1
    ranked.join(broadcast(quota), Seq("target"))
      .filter(col("rn") - col("class_offset") <= col("min_cnt"))
      .select(col("event_id"), col("symbol"), col("target"))
      .orderBy("event_id")
  }

  /** Model-calibration reliability table: decile-bin a probability-like
    * score, per bin report count, mean score, and empirical positive rate —
    * the reliability-diagram / expected-calibration-error primitive of ML
    * monitoring. Scored with the deterministic LOO target encoding (see
    * [[targetEncode]]) so the whole table is oracle-replayable; a real
    * deployment would feed model probabilities through the same shape.
    * One window pass for the score, one partial+final aggregate to 10
    * rows — driver-safe at any input scale. */
  def mlCalibration(s: SparkSession, dir: String): DataFrame = {
    val t = Targets.withTarget(bars(s, dir), targetType = "classification")
      .select(col("symbol"), col("target").cast("long").as("target"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("symbol")
    val scored = t.select(col("target"),
        try_divide((sum(col("target")).over(w) - col("target")).cast("double"),
          (count(lit(1)).over(w) - 1).cast("double")).as("score"))
      .filter(col("score").isNotNull)
    scored
      .groupBy(least(floor(col("score") * 10), lit(9L)).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("score")).as("_ss"),
        sum(col("target")).as("_st"))
      .select(col("bin"), col("n"),
        r6(col("_ss") / col("n")).as("avg_score"),
        r6(col("_st").cast("double") / col("n")).as("frac_pos"),
        r6(abs(col("_ss") / col("n") -
          col("_st").cast("double") / col("n"))).as("calib_gap"))
      .orderBy("bin")
  }

  /** Kolmogorov–Smirnov separability of the deterministic LOO score
    * (classifier-eval complement to `ml_auc`/`ml_roc` — the classic
    * credit-scoring KS): max |CDF⁺ − CDF⁻| over score thresholds, reported
    * with the achieving threshold and class totals. The distinct-score
    * frame is ≤ 2·|symbols| rows (the LOO score takes two values per
    * symbol), so the one global cumulative window is metadata-sized by
    * construction — never a data-wide single-partition sort. Integer
    * cumulative counts → the two CDF divisions are the only doubles. */
  def mlKs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Targets.withTarget(bars(s, dir), targetType = "classification")
      .select(col("symbol"), col("target").cast("long").as("target"))
    val w = Window.partitionBy("symbol")
    val scored = t.select(col("target"),
        try_divide((sum(col("target")).over(w) - col("target")).cast("double"),
          (count(lit(1)).over(w) - 1).cast("double")).as("score"))
      .filter(col("score").isNotNull)
    val sc = scored.groupBy("score").agg(
      sum(when(col("target") === 1, 1L).otherwise(0L)).as("cp0"),
      sum(when(col("target") === 0, 1L).otherwise(0L)).as("cn0"))
    val wc = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = sc.select(col("score"),
      sum(col("cp0")).over(wc).as("cp"), sum(col("cn0")).over(wc).as("cn"),
      sum(col("cp0")).over(wAll).as("tp"), sum(col("cn0")).over(wAll).as("tn"))
    val cdfp = col("cp").cast("double") / col("tp").cast("double")
    val cdfn = col("cn").cast("double") / col("tn").cast("double")
    cum.select(r6(col("score")).as("threshold"),
        r6(abs(cdfp - cdfn)).as("ks_stat"),
        r6(cdfp).as("cdf_pos"), r6(cdfn).as("cdf_neg"),
        col("tp").as("n_pos"), col("tn").as("n_neg"))
      .orderBy(col("ks_stat").desc, col("threshold"))
      .limit(1)
  }

  /** Feature-selection screen: global Pearson correlation of each candidate
    * feature against the forward-return regression target, ranked by
    * |corr| — the univariate relevance pass a feature store runs before
    * training (cheap features only: one window pass for the lag/lead, then
    * a single partial+final aggregate; output is feature-count rows, so the
    * final reduce is trivially driver-safe at any input scale). */
  def featureTargetCorr(s: SparkSession, dir: String): DataFrame = {
    val w = Frames.bySymbol
    val prev = lag(col("close"), 1).over(w)
    val fwd = try_divide(
      lead(col("close"), Params.PredictionHorizon).over(w) - col("close"),
      col("close"))
    val f = bars(s, dir)
      .select(
        try_divide(col("close") - prev, prev).as("ret_1"),
        ((col("high") - col("low")) / col("close")).as("hl_range"),
        col("volume").as("volume"),
        col("close").as("close_px"),
        fwd.as("target"))
      .filter(col("target").isNotNull)
    val feats = Seq("ret_1", "hl_range", "volume", "close_px")
    val agg = f.agg(
      corr(col(feats.head), col("target")).as(feats.head),
      feats.tail.map(n => corr(col(n), col("target")).as(n)): _*)
    agg
      .select(expr("stack(" + feats.length + ", " +
        feats.map(n => s"'$n', $n").mkString(", ") +
        ") AS (feature, corr_target)"))
      .select(col("feature"), r6(col("corr_target")).as("corr_target"),
        r6(abs(col("corr_target"))).as("abs_corr"))
      .orderBy(col("abs_corr").desc, col("feature"))
  }

  /** OHLCV bar resampling: 1-min bars → 1-hour bars per symbol. The
    * market-data downsampling the reference's daily-vs-intraday split
    * implies (src/data/ingestion.py S1/S2): open/close are the
    * time-ordered first/last (min_by/max_by over the (datetime, event_id)
    * tuple — deterministic under ties), high/low/volume are plain
    * aggregates. One partial+final hash aggregate, no window. */
  def barsResample(s: SparkSession, dir: String): DataFrame =
    hourlyBars(s, dir)
      .select(col("symbol"), col("bar_start"),
        r6(col("open")).as("open"), r6(col("high")).as("high"),
        r6(col("low")).as("low"), r6(col("close")).as("close"),
        col("volume"), col("n_ticks"))
      .orderBy("symbol", "bar_start")

  /** Unrounded hourly OHLCV aggregate shared by [[barsResample]] and
    * [[barsGapfill]] (rounding happens once, at each query's output
    * boundary). */
  private def hourlyBars(s: SparkSession, dir: String): DataFrame = {
    // tuple (datetime, event_id) encoded as one zero-padded sortable string
    // (DuckDB's arg_min/arg_max take a single scalar ordering key)
    val key = concat(
      lpad(unix_micros(col("datetime")).cast("string"), 20, "0"), lit("_"),
      lpad(col("event_id").cast("string"), 12, "0"))
    bars(s, dir)
      .groupBy(col("symbol"),
        date_trunc("hour", col("datetime")).cast("timestamp_ntz").as("bar_start"))
      .agg(
        min_by(col("open"), key).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), key).as("close"),
        sum(col("volume")).as("volume"),
        count(lit(1)).as("n_ticks"))
  }

  /** Dense hourly series: resample to the per-symbol hour grid, forward-fill
    * close through empty hours, flag the filled rows — the gap-fill step
    * that makes an irregular tick stream safe for fixed-window rolling
    * features (see [[graft.analytics.TimeWindows.gapfill]] for the scale
    * shape). */
  def barsGapfill(s: SparkSession, dir: String): DataFrame =
    graft.analytics.TimeWindows.gapfill(
        hourlyBars(s, dir).select("symbol", "bar_start", "close", "n_ticks"))
      .select(col("symbol"), col("bar_start"),
        r6(col("close")).as("close"), col("is_gap"), col("n_ticks"))
      .orderBy("symbol", "bar_start")

  /** Cross-sectional hourly momentum ranking: at each hour bucket, every
    * symbol's 1-hour return ranked / ntile(5)-bucketed / z-scored against
    * its peers — the across-symbols pass the reference's per-symbol loop
    * cannot express (see [[graft.analytics.CrossSection.xsecRank]] for the
    * one-exchange scale shape and the fold bit-parity contract). */
  def xsecRank(s: SparkSession, dir: String): DataFrame =
    graft.analytics.CrossSection.xsecRank(
        hourlyBars(s, dir).select(col("symbol"),
          col("bar_start").as("bucket"), col("close")))
      .select(col("symbol"), col("bucket"), r6(col("ret")).as("ret"),
        col("xsec_n"), col("xsec_rank").cast("long").as("xsec_rank"),
        col("xsec_quintile").cast("long").as("xsec_quintile"),
        r6(col("xsec_pct")).as("xsec_pct"), r6(col("xsec_z")).as("xsec_z"))
      .orderBy("bucket", "symbol")

  /** P8: schema-normalizing vertical union (reference src/main.py:98-125):
    * branch b arrives with scrambled column order and float32 close; the
    * normalization pass re-orders + casts before unionByName. */
  def unionSymbols(s: SparkSession, dir: String): DataFrame = {
    val b = bars(s, dir)
    val a = b.filter(col("symbol").cast("int") % 2 === 0)
      .select(col("event_id"), col("symbol"), col("close"), lit("a").as("branch"))
    val scrambled = b.filter(col("symbol").cast("int") % 2 === 1)
      .select(lit("b").as("branch"), col("close").cast("float").as("close"),
        col("symbol"), col("event_id"))
    val normalized = scrambled.select(
      col("event_id"), col("symbol"), col("close").cast("double").as("close"), col("branch"))
    a.unionByName(normalized)
      .select(col("event_id"), col("symbol"), r6(col("close")).as("close"), col("branch"))
      .orderBy("event_id")
  }

  /** Higher-moment distribution profile per symbol: population skewness and
    * excess kurtosis via the TWO-PASS central-moment sums (mean first, then
    * Σ(x−μ)^{2,3,4}) — the raw-moment one-pass formulas cancel
    * catastrophically at Σx⁴ magnitudes, two-pass keeps every sum
    * cancellation-free so both engines land inside the 1e-6 rounding box.
    * No pow(): σ³/σ⁴ are explicit products (libm pow is not bit-portable
    * across engines). */
  def aggMoments(s: SparkSession, dir: String): DataFrame =
    momentsOf(bars(s, dir))

  /** Two-pass skew/kurtosis core over any (symbol, close) frame. */
  def momentsOf(barsDf: DataFrame): DataFrame = {
    val b = barsDf.select(col("symbol"), col("close"))
    val mu = b.groupBy("symbol")
      .agg(sum(col("close")).as("s1"), count(lit(1)).as("n"))
      .select(col("symbol"), (col("s1") / col("n")).as("mu"), col("n"))
    val d = b.join(broadcast(mu), Seq("symbol"))
      .select(col("symbol"), col("n"), (col("close") - col("mu")).as("d"))
    val m2 = col("m2s") / col("n")
    val sd = sqrt(m2)
    d.groupBy("symbol", "n")
      .agg(sum(col("d") * col("d")).as("m2s"),
        sum(col("d") * col("d") * col("d")).as("m3s"),
        sum(col("d") * col("d") * col("d") * col("d")).as("m4s"))
      .select(col("symbol"), col("n"),
        r6(col("m3s") / col("n") / (sd * sd * sd)).as("close_skew"),
        r6(col("m4s") / col("n") / (m2 * m2) - 3.0).as("close_kurt"))
      .orderBy("symbol")
  }

  /** P11/A3: target distribution (value_counts). */
  def valueCounts(s: SparkSession, dir: String): DataFrame =
    Targets.withTarget(bars(s, dir), targetType = "classification")
      .groupBy("target").agg(count(lit(1)).as("cnt"))
      .orderBy("target")

  /** A1/A2: per-symbol descriptive stats. avg/std via explicit sums so the
    * oracle evaluates the identical arithmetic. */
  def aggStats(s: SparkSession, dir: String): DataFrame = {
    val c = col("close")
    bars(s, dir).groupBy("symbol")
      .agg(count(lit(1)).as("n"), sum(c).as("s1"), sum(c * c).as("s2"),
        min(c).as("mn"), max(c).as("mx"))
      .select(col("symbol"), col("n"),
        r6(col("mn")).as("close_min"), r6(col("mx")).as("close_max"),
        r6(col("s1") / col("n")).as("close_avg"),
        r6(sqrt(greatest((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1),
          lit(0.0)))).as("close_std"))
      .orderBy("symbol")
  }

  /** P9/P10: top-k by value (plans as TakeOrderedAndProject — no global
    * sort materialization, scales as a per-partition heap + driver merge). */
  def topkEvents(s: SparkSession, dir: String): DataFrame =
    Bars.readEvents(s, dir)
      .select(col("event_id"), col("event_type"), r6(col("value")).as("value"))
      .orderBy(col("value").desc, col("event_id"))
      .limit(100)

  /** All 49 reference feature columns — the full training matrix
    * (src/ml/training.py:39-41). The EWMA family is oracle-checked via
    * DuckDB recursive CTEs replaying the exact recurrence. */
  val MlMatrixFeatures: Seq[String] =
    Features.RsiCols ++ Features.MacdCols ++ Features.MomentumCols ++
      Features.VolatilityCols ++ Features.BollingerCols ++ Features.TemporalCols

  /** M1/P4/P7: ML feature matrix — select features + target, drop any-null
    * rows (reference src/ml/training.py:39-58). */
  def mlMatrix(s: SparkSession, dir: String): DataFrame = {
    val feats = Features.computeAllFeatures(bars(s, dir))
    val withTarget = Targets.withTarget(feats, targetType = "classification")
    val selected = withTarget.select(
      col("event_id") +: (MlMatrixFeatures.map(col) :+ col("target")): _*)
    val dropped = selected.na.drop("any", MlMatrixFeatures)
    val ints = Features.CalendarCols.toSet
    dropped.select(
      col("event_id") +:
      (MlMatrixFeatures.map(n => if (ints(n)) col(n) else r6(col(n)).as(n)) :+
        col("target")): _*)
      // Materialize before the global sort: RangePartitioning samples its
      // child, which would otherwise re-run the entire 4-window pipeline a
      // second time just to pick sort boundaries — 2x the query at ANY
      // scale. Checkpointing the (narrow, rounded) matrix makes the
      // sampling pass read materialized rows instead.
      .pinned()
      .orderBy("event_id")
  }
}
