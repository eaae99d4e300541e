package graft.features

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Price-action features over the canonical OHLCV bars: VWAP (cumulative
  * session and rolling) and peak-drawdown — the standard microstructure
  * signals a market-data feature store carries next to the reference's
  * momentum/volatility blocks (reference feature family:
  * src/features/engineering.py; these extend it the same per-symbol
  * windowed way).
  *
  * Scale shape: everything runs over the shared [[Frames.bySymbol]] spec —
  * ONE `hashpartitioning(symbol)` exchange + one partition-local sort, like
  * the rest of the 49-feature pipeline. Rolling VWAP uses the O(n) cum−lag
  * identity ([[Frames.withCums]] / [[Frames.cumRolling]]); running peak /
  * max-drawdown are order-insensitive extrema (bit-portable to the oracle
  * with a plain windowed MAX/MIN, unlike sliding sums).
  */
object Market {

  val VwapWindow = 20

  /** Cumulative + rolling volume-weighted average price.
    *
    *   typical  = (high + low + close) / 3
    *   vwap_cum = cumsum(typical·volume) / cumsum(volume)
    *   vwap_N   = rollsum(typical·volume, N) / rollsum(volume, N)
    *              (gated on N observed rows, Polars min_samples semantics)
    *   vwap_distance = (close − vwap_N) / vwap_N · 100
    *
    * Running sums accumulate strictly left-to-right in row order, which the
    * oracle reproduces with `list_sum(list(...) OVER ...)` — the same
    * bit-portability argument as the volatility cums. */
  def withVwap(df: DataFrame, n: Int = VwapWindow): DataFrame = {
    val typical = (col("high") + col("low") + col("close")) / 3.0
    val stage1 = df.select(col("*"), (typical * col("volume")).as("_pv"))
    val stage2 = Frames.withCums(stage1, Map(
      "_c_pv" -> col("_pv"),
      "_c_v" -> col("volume")))
    val gate = Frames.cumCountGate("_c_pv", n)
    val rollPv = Frames.cumRolling("_c_pv", n)
    val rollV = Frames.cumRolling("_c_v", n)
    val vwapN = when(gate, rollPv / rollV)
    stage2.select(col("*"),
        (col("_c_pv") / col("_c_v")).as("vwap_cum"),
        vwapN.as(s"vwap_$n"),
        ((col("close") - vwapN) / vwapN * 100).as("vwap_distance"))
      .drop(Frames.cumHelperCols(Seq("_c_pv", "_c_v")): _*)
      .drop("_pv")
  }

  val CorrWindow = 20

  /** Rolling Pearson correlation and sample covariance between close and
    * volume — the price/volume co-movement signal (pairs screens, liquidity
    * regressions) built the same O(n) way as every other rolling feature:
    *
    *   over the last n rows (min_samples gated, Polars semantics):
    *     varx = n·Σx² − (Σx)²      vary = n·Σy² − (Σy)²
    *     cov  = n·Σxy − Σx·Σy
    *     roll_corr = cov / (√varx · √vary)      (NULL unless varx,vary > 0)
    *     roll_cov  = cov / n / (n−1)            (sample covariance)
    *
    * All five rolling sums come from [[Frames.withCums]] / cumRolling —
    * running sums accumulate strictly left-to-right in row order, so the
    * oracle reproduces every sum bit-exactly with
    * `list_sum(list(...) OVER ...)` and the identical downstream arithmetic
    * tree lands on identical doubles. Two window passes (cums, then lags)
    * over the one shared [[Frames.bySymbol]] exchange. */
  def withRollingCorr(df: DataFrame, n: Int = CorrWindow): DataFrame = {
    val stage1 = df.select(col("*"),
      (col("close") * col("volume")).as("_xy"),
      (col("close") * col("close")).as("_xx"),
      (col("volume") * col("volume")).as("_yy"))
    val stage2 = Frames.withCums(stage1, Map(
      "_c_x" -> col("close"), "_c_y" -> col("volume"),
      "_c_xy" -> col("_xy"), "_c_xx" -> col("_xx"), "_c_yy" -> col("_yy")))
    val nD = lit(n.toDouble)
    val stage3 = stage2.select(col("*"),
      Frames.cumRolling("_c_x", n).as("_sx"),
      Frames.cumRolling("_c_y", n).as("_sy"),
      Frames.cumRolling("_c_xy", n).as("_sxy"),
      Frames.cumRolling("_c_xx", n).as("_sxx"),
      Frames.cumRolling("_c_yy", n).as("_syy"),
      Frames.cumCountGate("_c_x", n).as("_g"))
    val varx = nD * col("_sxx") - col("_sx") * col("_sx")
    val vary = nD * col("_syy") - col("_sy") * col("_sy")
    val cov = nD * col("_sxy") - col("_sx") * col("_sy")
    stage3.select(col("*"),
        when(col("_g") && varx > 0.0 && vary > 0.0,
          cov / (sqrt(varx) * sqrt(vary))).as("roll_corr"),
        when(col("_g"), cov / nD / lit((n - 1).toDouble)).as("roll_cov"))
      .drop(Frames.cumHelperCols(
        Seq("_c_x", "_c_y", "_c_xy", "_c_xx", "_c_yy")): _*)
      .drop("_xy", "_xx", "_yy", "_sx", "_sy", "_sxy", "_sxx", "_syy", "_g")
  }

  val AtrWindow = 14

  /** True range + Average True Range (SMA-smoothed):
    *
    *   tr  = greatest(high − low, |high − prev_close|, |low − prev_close|)
    *         (first row per symbol: high − low, no prior close)
    *   atr = rolling mean(tr, n), min_samples gated
    *
    * The volatility indicator the reference's family lacks next to
    * realized/rolling vol; rolling mean via the same O(n) cum−lag identity,
    * so the oracle replays the sums sequentially. */
  def withAtr(df: DataFrame, n: Int = AtrWindow): DataFrame = {
    val prevClose = lag(col("close"), 1).over(Frames.bySymbol)
    val tr = greatest(
      col("high") - col("low"),
      abs(col("high") - prevClose),
      abs(col("low") - prevClose))
    val stage1 = df.select(col("*"),
      coalesce(tr, col("high") - col("low")).as("tr"))
    val stage2 = Frames.withCums(stage1, Map("_c_tr" -> col("tr")))
    stage2.select(col("*"),
        when(Frames.cumCountGate("_c_tr", n),
          Frames.cumRolling("_c_tr", n) / n).as(s"atr_$n"))
      .drop(Frames.cumHelperCols(Seq("_c_tr")): _*)
  }

  val ChandelierWindow = 22
  val ChandelierMult = 3.0

  /** Chandelier exits (LeBeau): volatility-scaled trailing stops —
    *
    *   long  = rollmax(high, n) − k·ATR(n)    (stop under a long)
    *   short = rollmin(low, n)  + k·ATR(n)    (stop over a short)
    *
    * the exit a trend system trails behind price: the stop ratchets with
    * the n-bar extreme but breathes with volatility, so a quiet drift
    * doesn't shake the position out while a volatility spike widens the
    * berth. ATR is the house rolling-mean-of-TR (cum−lag identity, same
    * tree as [[withAtr]] at n = 22); extrema are native rolling MIN/MAX
    * (order-insensitive). NULL until both the extreme frame and the ATR
    * gate fill. One window pass class on the shared symbol exchange. */
  def withChandelier(df: DataFrame, n: Int = ChandelierWindow,
      k: Double = ChandelierMult): DataFrame = {
    val a = withAtr(df, n)
    val frame = Frames.bySymbol.rowsBetween(-(n - 1), 0)
    val gate = count(col("high")).over(frame) === n
    val atr = col(s"atr_$n")
    a.select(col("*"),
        when(gate && atr.isNotNull,
          max(col("high")).over(frame) - lit(k) * atr).as("chandelier_long"),
        when(gate && atr.isNotNull,
          min(col("low")).over(frame) + lit(k) * atr).as("chandelier_short"))
      .drop("tr", s"atr_$n")
  }

  /** On-balance volume: running sum of sign(Δclose)·volume — the classic
    * volume-flow accumulation line. The first row per symbol (no prior
    * close) contributes 0. Signs are exact ±1/0 and volumes are
    * integer-valued, so the running sum is exact in fp under ANY
    * association — the sequential cum frame is used anyway for consistency
    * with the rest of the family. One window pass over the shared
    * [[Frames.bySymbol]] exchange. */
  def withObv(df: DataFrame): DataFrame = {
    val running = Frames.bySymbol
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val delta = coalesce(
      signum(col("close") - lag(col("close"), 1).over(Frames.bySymbol)),
      lit(0.0)) * col("volume")
    df.select(col("*"), sum(delta).over(running).as("obv"))
  }

  val MfiWindow = 14

  /** Money Flow Index — RSI on volume-weighted typical price:
    *
    *   tp   = (high + low + close) / 3
    *   flow = tp · volume, split into positive/negative on Δtp (ties and
    *          the first row contribute to neither)
    *   mfi  = 100 − 100 / (1 + rollsum(pos, n) / rollsum(neg, n)),
    *          min_samples gated
    *
    * Rolling sums via the shared cum−lag identity (sequential-fold
    * bit-portability); a 14-bar stretch with zero negative flow divides by
    * zero and yields NULL identically in both engines (non-ANSI Spark ==
    * DuckDB, the engine-wide contract). */
  def withMfi(df: DataFrame, n: Int = MfiWindow): DataFrame = {
    val tp = (col("high") + col("low") + col("close")) / 3.0
    val dtp = tp - lag(tp, 1).over(Frames.bySymbol)
    val stage1 = df.select(col("*"),
      when(dtp > 0, tp * col("volume")).otherwise(lit(0.0)).as("_pflow"),
      when(dtp < 0, tp * col("volume")).otherwise(lit(0.0)).as("_nflow"))
    val stage2 = Frames.withCums(stage1, Map(
      "_c_pf" -> col("_pflow"), "_c_nf" -> col("_nflow")))
    stage2.select(col("*"),
        when(Frames.cumCountGate("_c_pf", n),
          lit(100.0) - lit(100.0) /
            (lit(1.0) + Frames.cumRolling("_c_pf", n) /
              Frames.cumRolling("_c_nf", n))).as(s"mfi_$n"))
      .drop(Frames.cumHelperCols(Seq("_c_pf", "_c_nf")): _*)
      .drop("_pflow", "_nflow")
  }

  val StochWindow = 14
  val StochSmooth = 3

  /** Stochastic oscillator:
    *
    *   %K = (close − min(low, n)) / (max(high, n) − min(low, n)) · 100
    *        (gated on n observed rows; NULL while the range is flat)
    *   %D = (%K + lag(%K, 1) + lag(%K, 2)) / 3
    *        (the 3-bar smoothing as an explicit left-to-right sum, so the
    *        oracle evaluates the identical tree; null-propagating — %D
    *        exists only where all three %K values do)
    *
    * Rolling min/max are order-insensitive extrema over row frames —
    * bit-portable with engine-native windowed MIN/MAX (same argument as
    * drawdown), no sequential-fold machinery needed. */
  def withStochastic(df: DataFrame, n: Int = StochWindow): DataFrame = {
    val frame = Frames.bySymbol.rowsBetween(-(n - 1), 0)
    val ll = min(col("low")).over(frame)
    val hh = max(col("high")).over(frame)
    val gate = count(col("close")).over(frame) === n
    val stage1 = df.select(col("*"),
      when(gate && hh > ll,
        (col("close") - ll) / (hh - ll) * 100).as("pct_k"))
    stage1.select(col("*"),
      ((col("pct_k") + lag(col("pct_k"), 1).over(Frames.bySymbol) +
        lag(col("pct_k"), 2).over(Frames.bySymbol)) / StochSmooth)
        .as("pct_d"))
  }

  /** Williams %R over the same n-bar extrema as the stochastic:
    * %R = (hh − close)/(hh − ll) · −100, in [−100, 0] (0 = close at the
    * period high). NULL until the frame is full or while hh == ll (a flat
    * frame has no range to place the close in) — the same gating as
    * [[withStochastic]], whose %K it mirrors (%R = %K·(−1) + 0 shifted:
    * −100·(1 − (close−ll)/(hh−ll))). Rolling MIN/MAX extrema are
    * order-insensitive, so the value is bit-portable natively. One window
    * pass over the shared [[Frames.bySymbol]] exchange. */
  def withWilliamsR(df: DataFrame, n: Int = StochWindow): DataFrame = {
    val frame = Frames.bySymbol.rowsBetween(-(n - 1), 0)
    val ll = min(col("low")).over(frame)
    val hh = max(col("high")).over(frame)
    val gate = count(col("close")).over(frame) === n
    df.select(col("*"),
      when(gate && hh > ll,
        (hh - col("close")) / (hh - ll) * -100).as("williams_r"))
  }

  val DonchianWindow = 20

  /** Donchian channel over n-bar extrema: upper = rolling max(high),
    * lower = rolling min(low), mid = (upper + lower)/2, and the close's
    * position in the channel (0 = at the low, 1 = at the high). NULL until
    * the frame is full; position NULL while upper == lower (a flat channel
    * has no interior). Rolling MIN/MAX are order-insensitive, hence
    * bit-portable natively; one window pass over the shared
    * [[Frames.bySymbol]] exchange. */
  def withDonchian(df: DataFrame, n: Int = DonchianWindow): DataFrame = {
    val frame = Frames.bySymbol.rowsBetween(-(n - 1), 0)
    val hh = max(col("high")).over(frame)
    val ll = min(col("low")).over(frame)
    val gate = count(col("close")).over(frame) === n
    df.select(col("*"),
      when(gate, hh).as("donchian_high"),
      when(gate, ll).as("donchian_low"),
      when(gate, (hh + ll) / 2).as("donchian_mid"),
      when(gate && hh > ll,
        (col("close") - ll) / (hh - ll)).as("donchian_pos"))
  }

  /** Kaufman Adaptive MA: efficiency ratio er = |Δclose over n bars| /
    * Σ|1-bar diffs| maps each row to α = (er·(fast−slow)+slow)² and the
    * custom [[graft.expr.Kama]] window function runs the data-dependent
    * recursion v' = v + α·(close − v) in one WindowExec pass. Rolling
    * volatility uses the cum−lag identity (bit-portable accumulation
    * order); flat windows (vol = 0) read er = 0 (maximum smoothing); α is
    * NULL until the window fills, seeding the recursion at the first
    * complete row. Emits er, kama_alpha, kama. */
  def withKama(df: DataFrame, n: Int = graft.Params.KamaWindow): DataFrame = {
    val fastSC = 2.0 / (graft.Params.KamaFast + 1.0)
    val slowSC = 2.0 / (graft.Params.KamaSlow + 1.0)
    val w = Frames.bySymbol
    val wrun = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val diff = col("close") - lag(col("close"), 1).over(w)
    val s1 = df.withColumn("_absd", abs(diff))
    val s2 = s1.select(col("*"),
      sum(col("_absd")).over(wrun).as("_cum"),
      count(col("_absd")).over(w.rowsBetween(-(n - 1), 0)).as("_cnt"),
      abs(col("close") - lag(col("close"), n).over(w)).as("_change"))
    val s3 = s2.withColumn("_vol",
      col("_cum") - coalesce(lag(col("_cum"), n).over(w), lit(0.0)))
    val er = when(col("_cnt") === n,
      when(col("_vol") > 0, col("_change") / col("_vol")).otherwise(lit(0.0)))
    s3.withColumn("er", er)
      .withColumn("_a0", col("er") * lit(fastSC - slowSC) + lit(slowSC))
      .withColumn("kama_alpha", col("_a0") * col("_a0"))
      .withColumn("kama", graft.expr.Kama.kamaOver(col("close"),
        col("kama_alpha"), Seq(col("symbol")),
        Seq(col("datetime"), col("event_id"))))
      .drop("_absd", "_cum", "_cnt", "_change", "_vol", "_a0")
  }

  val IchimokuTenkan = 9
  val IchimokuKijun = 26
  val IchimokuSenkouB = 52
  val IchimokuShift = 26

  /** Ichimoku Kinko Hyo (the 9/26/52 cloud): conversion/base lines are
    * rolling (highest-high + lowest-low)/2 midpoints, and the two senkou
    * spans are their combination shifted BACK 26 bars (the cloud above
    * today was computed 26 bars ago — the causal, feature-safe reading of
    * the traditional forward plot; no lookahead anywhere). Every component
    * is NULL until its frame fills, and the spans additionally need the
    * 26-bar shift history — the same full-frame gating as Donchian.
    * Rolling MIN/MAX are order-insensitive, so every output is natively
    * bit-portable to the oracle's window replay. */
  def withIchimoku(df: DataFrame): DataFrame = {
    def f(n: Int) = Frames.bySymbol.rowsBetween(-(n - 1), 0)
    def mid(n: Int) =
      when(count(col("close")).over(f(n)) === n,
        (max(col("high")).over(f(n)) + min(col("low")).over(f(n))) / 2)
    val s1 = df.select(col("*"),
      mid(IchimokuTenkan).as("ichimoku_tenkan"),
      mid(IchimokuKijun).as("ichimoku_kijun"),
      mid(IchimokuSenkouB).as("_spanb_raw"))
    s1.select(col("*"),
      lag((col("ichimoku_tenkan") + col("ichimoku_kijun")) / 2, IchimokuShift)
        .over(Frames.bySymbol).as("ichimoku_senkou_a"),
      lag(col("_spanb_raw"), IchimokuShift)
        .over(Frames.bySymbol).as("ichimoku_senkou_b"))
      .drop("_spanb_raw")
  }

  val CciWindow = 20

  /** Commodity Channel Index over n bars of typical price tp = (h+l+c)/3:
    *
    *   cci = (tp − sma(tp, n)) / (0.015 · md),  md = mean(|tp_i − sma|)
    *
    * The mean deviation is around the frame's OWN mean, so it is not a
    * windowed aggregate of any precomputed column — the frame is gathered
    * once per row (`collect_list` over the 20-row frame, O(n·w) total) and
    * the deviation sum is a sequential left fold over the frame-ordered
    * array, which the oracle replays with `list_reduce` in the identical
    * order (same bit-portability argument as the VWAP list_sum). sma itself
    * is folded from the same array — NOT the cum−lag identity — so both
    * engines subtract bit-identical means. NULL until the frame fills or
    * while md == 0 (constant frame). */
  def withCci(df: DataFrame, n: Int = CciWindow): DataFrame = {
    val frame = Frames.bySymbol.rowsBetween(-(n - 1), 0)
    val tp = ((col("high") + col("low") + col("close")) / 3).as("_tp")
    val s1 = df.select(col("*"), tp)
    val s2 = s1.select(col("*"),
      when(count(col("_tp")).over(frame) === n,
        collect_list(col("_tp")).over(frame)).as("_tparr"))
    // fold the frame array sequentially: sum → mean, then |x−mean| sum
    val mean = (aggregate(col("_tparr"), lit(0.0), (a, x) => a + x)
      / n).as("_tpmean")
    val s3 = s2.select(col("*"), mean)
    val md = (aggregate(col("_tparr"), lit(0.0),
      (a, x) => a + abs(x - col("_tpmean"))) / n).as("_tpmd")
    val s4 = s3.select(col("*"), md)
    s4.select(col("*"),
        when(col("_tpmd") > 0.0,
          (col("_tp") - col("_tpmean")) / (lit(0.015) * col("_tpmd")))
          .as("cci"))
      .drop("_tp", "_tparr", "_tpmean", "_tpmd")
  }

  val KeltnerWindow = 20
  val KeltnerAtrWindow = 10
  val KeltnerMult = 2.0

  /** Keltner channels: EMA(typical price, 20) ± 2·ATR(10). The EMA runs
    * through the same [[graft.expr.Ewma]] window expression as MACD
    * (adjust = true, Polars default); the ATR is [[withAtr]]'s SMA-smoothed
    * form. Position NULL until the ATR gate opens or while the band is
    * degenerate (atr == 0). Both stages share the one per-symbol exchange. */
  def withKeltner(df: DataFrame,
      n: Int = KeltnerWindow, atrN: Int = KeltnerAtrWindow,
      mult: Double = KeltnerMult): DataFrame = {
    val tp = (col("high") + col("low") + col("close")) / 3
    val s1 = withAtr(df.select(col("*"), tp.as("_ktp")), atrN)
    val mid = graft.expr.Ewma.ewmaSpanOver(col("_ktp"), n, adjust = true,
      Seq(col(Frames.SymbolCol)), Seq(col(Frames.TimeCol), col(Frames.TieCol)))
    val s2 = s1.select(col("*"), mid.as("_kmid"))
    val atr = col(s"atr_$atrN")
    val up = col("_kmid") + lit(mult) * atr
    val lo = col("_kmid") - lit(mult) * atr
    s2.select(col("*"),
        col("_kmid").as("keltner_mid"),
        up.as("keltner_high"),
        lo.as("keltner_low"),
        when(atr > 0.0, (col("close") - lo) / (up - lo)).as("keltner_pos"))
      .drop("_ktp", "_kmid", "tr", s"atr_$atrN")
  }

  val AmihudWindow = 20

  /** Amihud illiquidity: rolling mean of |return| per unit of dollar
    * volume — the standard price-impact proxy. Zero-volume bars
    * contribute NULL (no trade to move the price through) and are
    * excluded from the mean; the frame is gated on n ROWS observed with
    * at least one non-null ratio, and the mean divides by the non-null
    * count. Scaled ×1e6 like the literature. All O(n) cum−lag sums over
    * the one shared per-symbol exchange. */
  def withAmihud(df: DataFrame, n: Int = AmihudWindow): DataFrame = {
    val w = Frames.bySymbol
    val prev = lag(col("close"), 1).over(w)
    val ret = (col("close") - prev) / prev
    val dv = col("close") * col("volume")
    val s1 = df.select(col("*"),
      when(dv > 0.0, abs(ret) / dv * 1e6).as("_ilq"))
    val s2 = Frames.withCums(s1, Map("_c_ilq" -> col("_ilq"),
      "_c_one" -> lit(1.0)))
    val rows = Frames.cumRolling("_c_one", n)
    val cnt = col("_c_ilq_n") -
      coalesce(lag(col("_c_ilq_n"), n).over(w), lit(0L))
    s2.select(col("*"),
        when(rows === n.toDouble && cnt > 0,
          Frames.cumRolling("_c_ilq", n) / cnt).as(s"amihud_$n"))
      .drop("_ilq")
      .drop(Frames.cumHelperCols(Seq("_c_ilq", "_c_one")): _*)
  }

  val RollWindow = 20

  /** Roll's implied spread: 2·√(−cov(Δp_t, Δp_{t−1})) over a rolling
    * frame when the serial covariance of price changes is negative
    * (bid-ask bounce), NULL otherwise — the classic trade-cost estimate
    * from prices alone. Population covariance over the n-pair frame via
    * the same cum−lag identity as the autocorrelation screen; rows
    * before both diffs exist are excluded. */
  def withRollSpread(df: DataFrame, n: Int = RollWindow): DataFrame = {
    val w = Frames.bySymbol
    val dp = col("close") - lag(col("close"), 1).over(w)
    val s1 = df.select(col("*"), dp.as("_dp"))
      .select(col("*"), lag(col("_dp"), 1).over(w).as("_dpl"))
      .select(col("*"),
        when(col("_dp").isNotNull && col("_dpl").isNotNull,
          col("_dp") * col("_dpl")).as("_xy"),
        when(col("_dpl").isNotNull, col("_dp")).as("_x"),
        col("_dpl").as("_y"))
    val s2 = Frames.withCums(s1, Map("_c_rx" -> col("_x"),
      "_c_ry" -> col("_y"), "_c_rxy" -> col("_xy")))
    val nD = lit(n.toDouble)
    val cov = (nD * Frames.cumRolling("_c_rxy", n) -
      Frames.cumRolling("_c_rx", n) * Frames.cumRolling("_c_ry", n)) /
      (nD * nD)
    s2.select(col("*"),
        when(Frames.cumCountGate("_c_rxy", n) && cov < 0.0,
          lit(2.0) * sqrt(-cov)).as(s"roll_spread_$n"))
      .drop("_dp", "_dpl", "_xy", "_x", "_y")
      .drop(Frames.cumHelperCols(Seq("_c_rx", "_c_ry", "_c_rxy")): _*)
  }

  val AdxWindow = 14

  /** Average Directional Index (Wilder): directional movement
    *
    *   +DM = high − prev_high  if it exceeds both (prev_low − low) and 0
    *   −DM = prev_low − low    if it exceeds both (high − prev_high) and 0
    *   (first row per symbol: NULL — no prior bar)
    *
    * Wilder-smoothed (EWMA adjust=false, α = 1/n — [[graft.expr.Ewma]],
    * seeded at the first non-null, i.e. row 2) together with the true
    * range; then ±DI = 100·smooth(±DM)/smooth(TR) (NULL while
    * smooth(TR) = 0), DX = 100·|+DI − −DI|/(+DI + −DI) (NULL when both DI
    * are 0), and ADX = the same Wilder smoothing of DX — nulls leave the
    * ADX state untouched, Polars ewm ignore-nulls semantics. Two window
    * stages (DX is a derived series, same data dependency as MACD's
    * signal), both over the one shared per-symbol exchange. */
  def withAdx(df: DataFrame, n: Int = AdxWindow): DataFrame = {
    val w = Frames.bySymbol
    val prevH = lag(col("high"), 1).over(w)
    val prevL = lag(col("low"), 1).over(w)
    val prevC = lag(col("close"), 1).over(w)
    val up = col("high") - prevH
    val dn = prevL - col("low")
    val pdm = when(up > dn && up > 0, up)
      .otherwise(when(prevH.isNotNull, lit(0.0)))
    val mdm = when(dn > up && dn > 0, dn)
      .otherwise(when(prevL.isNotNull, lit(0.0)))
    // explicitly NULL on the first row (Spark's greatest skips nulls, so
    // an ungated greatest would emit high−low there) — all three smoothers
    // then seed uniformly at row 2, where directional movement is defined
    val tr = when(prevC.isNotNull, greatest(col("high") - col("low"),
      abs(col("high") - prevC), abs(col("low") - prevC)))
    val s1 = df.select(col("*"),
      pdm.as("_pdm"), mdm.as("_mdm"), tr.as("_trw"))
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    def wild(c: org.apache.spark.sql.Column) =
      graft.expr.Ewma.ewmaOver(c, 1.0 / n, adjust = false, part, ord)
    val s2 = s1.select(col("*"),
      wild(col("_pdm")).as("_spdm"),
      wild(col("_mdm")).as("_smdm"),
      wild(col("_trw")).as("_str"))
    val pdi = when(col("_str") > 0.0,
      lit(100.0) * col("_spdm") / col("_str"))
    val mdi = when(col("_str") > 0.0,
      lit(100.0) * col("_smdm") / col("_str"))
    val s3 = s2.select(col("*"), pdi.as("plus_di"), mdi.as("minus_di"))
    val dx = when(col("plus_di") + col("minus_di") > 0.0,
      lit(100.0) * abs(col("plus_di") - col("minus_di")) /
        (col("plus_di") + col("minus_di")))
    val s4 = s3.select(col("*"), dx.as("_dx"))
    s4.select(col("*"), wild(col("_dx")).as("adx"))
      .drop("_pdm", "_mdm", "_trw", "_spdm", "_smdm", "_str", "_dx")
  }

  val AroonWindow = 25

  /** Aroon indicator over the last n bars: how recently the frame's
    * extreme printed.
    *
    *   aroon_up   = (n − bars_since_high) / n · 100
    *   aroon_down = (n − bars_since_low)  / n · 100
    *   aroon_osc  = aroon_up − aroon_down
    *
    * "Bars since" is the distance to the MOST RECENT occurrence of the
    * frame max/min (ties resolve to the latest bar — deterministic, and
    * what a fresh extreme means economically). Computed by gathering the
    * frame once per row ([[withCci]]'s collect_list pattern, O(n·w)) and
    * locating the extremum from the frame's end — the oracle replays the
    * identical list_position(list_reverse(...)) lookup, and the only
    * doubles involved are exact integer positions scaled at the end, so
    * the value is bit-portable trivially. NULL until the frame fills. */
  def withAroon(df: DataFrame, n: Int = AroonWindow): DataFrame = {
    val frame = Frames.bySymbol.rowsBetween(-(n - 1), 0)
    val gate = count(col("close")).over(frame) === n
    val s1 = df.select(col("*"),
      when(gate, collect_list(col("high")).over(frame)).as("_ah"),
      when(gate, collect_list(col("low")).over(frame)).as("_al"))
    val sinceHigh =
      (array_position(reverse(col("_ah")), array_max(col("_ah"))) - 1)
        .cast("double")
    val sinceLow =
      (array_position(reverse(col("_al")), array_min(col("_al"))) - 1)
        .cast("double")
    val up = ((lit(n.toDouble) - sinceHigh) * 100.0 / n).as("aroon_up")
    val dn = ((lit(n.toDouble) - sinceLow) * 100.0 / n).as("aroon_down")
    s1.select(col("*"), up, dn)
      .select(col("*"), (col("aroon_up") - col("aroon_down")).as("aroon_osc"))
      .drop("_ah", "_al")
  }

  val VortexWindow = 14

  /** Vortex indicator over n bars:
    *
    *   vm+ = |high − prev_low|,  vm− = |low − prev_high|
    *   vi± = rollsum(vm±, n) / rollsum(tr, n)
    *
    * with tr the ATR true range, NULL on the first bar per symbol (no
    * prior bar, same seeding as [[withAdx]]'s directional movement).
    * Rolling sums via the O(n) cum−lag identity; gated on n non-null
    * true ranges and a positive range sum. One shared per-symbol
    * exchange. */
  def withVortex(df: DataFrame, n: Int = VortexWindow): DataFrame = {
    val w = Frames.bySymbol
    val prevC = lag(col("close"), 1).over(w)
    val prevH = lag(col("high"), 1).over(w)
    val prevL = lag(col("low"), 1).over(w)
    val tr = when(prevC.isNotNull, greatest(col("high") - col("low"),
      abs(col("high") - prevC), abs(col("low") - prevC)))
    val s1 = df.select(col("*"),
      abs(col("high") - prevL).as("_vmp"),
      abs(col("low") - prevH).as("_vmm"),
      tr.as("_vtr"))
    val s2 = Frames.withCums(s1, Map("_c_vmp" -> col("_vmp"),
      "_c_vmm" -> col("_vmm"), "_c_vtr" -> col("_vtr")))
    val strr = Frames.cumRolling("_c_vtr", n)
    val gate = Frames.cumCountGate("_c_vtr", n) && strr > 0.0
    s2.select(col("*"),
        when(gate, Frames.cumRolling("_c_vmp", n) / strr).as("vi_plus"),
        when(gate, Frames.cumRolling("_c_vmm", n) / strr).as("vi_minus"))
      .drop("_vmp", "_vmm", "_vtr")
      .drop(Frames.cumHelperCols(Seq("_c_vmp", "_c_vmm", "_c_vtr")): _*)
  }

  val CmfWindow = 20

  /** Chaikin money flow over n bars:
    *
    *   mfm = ((close − low) − (high − close)) / (high − low)   (0 on a
    *         flat bar — no range to place the close in, standard CMF)
    *   cmf = rollsum(mfm · volume, n) / rollsum(volume, n)
    *
    * Rolling sums via the cum−lag identity (sequential-fold
    * bit-portability); gated on n observed rows and positive rolling
    * volume. One window pass over the shared per-symbol exchange. */
  def withCmf(df: DataFrame, n: Int = CmfWindow): DataFrame = {
    val mfm = when(col("high") > col("low"),
      ((col("close") - col("low")) - (col("high") - col("close"))) /
        (col("high") - col("low"))).otherwise(lit(0.0))
    val s1 = df.select(col("*"), (mfm * col("volume")).as("_mfv"))
    val s2 = Frames.withCums(s1, Map("_c_mfv" -> col("_mfv"),
      "_c_cv" -> col("volume")))
    val vs = Frames.cumRolling("_c_cv", n)
    s2.select(col("*"),
        when(Frames.cumCountGate("_c_cv", n) && vs > 0.0,
          Frames.cumRolling("_c_mfv", n) / vs).as(s"cmf_$n"))
      .drop("_mfv")
      .drop(Frames.cumHelperCols(Seq("_c_mfv", "_c_cv")): _*)
  }

  val RangeVolWindow = 20
  /** 1/(4·ln 2) Parkinson normalizer and the 2·ln2 − 1 Garman–Klass
    * drift coefficient, computed once in Scala and embedded as the SAME
    * double literal on both engines. */
  val FourLn2: Double = 4.0 * math.log(2.0)
  val GkCoef: Double = 2.0 * math.log(2.0) - 1.0

  /** Range-based volatility estimators over n bars — the OHLC
    * information the close-to-close realized vol throws away:
    *
    *   parkinson    = √( rollmean(ln(h/l)², n) / (4·ln 2) )
    *   garman_klass = √( rollmean(0.5·ln(h/l)² − (2·ln2−1)·ln(c/o)², n) )
    *
    * Garman–Klass is NULL when the frame mean goes negative (the
    * estimator is undefined there — large drift, narrow ranges).
    * Zero/negative prices (the regenerated sf0.1 data carries value = 0
    * rows) gate their bar's log terms to NULL explicitly on BOTH engines —
    * without the gate Spark's ln poisons the running cums with NaN on the
    * 0/0 bar while DuckDB raises on ln(0), so the gate is a correctness
    * fix, not cosmetics. Rolling means via the cum−lag identity over the
    * one shared exchange. */
  def withRangeVol(df: DataFrame, n: Int = RangeVolWindow): DataFrame = {
    val lhl = when(col("high") > 0.0 && col("low") > 0.0,
      log(col("high") / col("low")))
    val lco = when(col("close") > 0.0 && col("open") > 0.0,
      log(col("close") / col("open")))
    val s1 = df.select(col("*"),
      (lhl * lhl).as("_hl2"),
      (lit(0.5) * (lhl * lhl) - lit(GkCoef) * (lco * lco)).as("_gkt"))
    val s2 = Frames.withCums(s1, Map("_c_hl2" -> col("_hl2"),
      "_c_gkt" -> col("_gkt")))
    val gate = Frames.cumCountGate("_c_hl2", n)
    val parkMean = Frames.cumRolling("_c_hl2", n) / n / lit(FourLn2)
    val gkMean = Frames.cumRolling("_c_gkt", n) / n
    s2.select(col("*"),
        when(gate, sqrt(parkMean)).as(s"parkinson_$n"),
        when(gate && gkMean >= 0.0, sqrt(gkMean)).as(s"garman_klass_$n"))
      .drop("_hl2", "_gkt")
      .drop(Frames.cumHelperCols(Seq("_c_hl2", "_c_gkt")): _*)
  }

  val UlcerWindow = 14

  /** Ulcer index over n bars — downside-only volatility:
    *
    *   dd    = 100 · (close − rollmax(close, n)) / rollmax(close, n)
    *   ulcer = √( rollmean(dd², n) )
    *
    * The drawdown needs a full n-bar frame (rolling MAX is
    * order-insensitive, bit-portable natively), and the squared-drawdown
    * mean needs n drawdowns — so the index warms up after 2n−1 bars,
    * enforced by the cum count gate counting non-null dd² only. */
  def withUlcer(df: DataFrame, n: Int = UlcerWindow): DataFrame = {
    val frame = Frames.bySymbol.rowsBetween(-(n - 1), 0)
    val gate0 = count(col("close")).over(frame) === n
    val rmax = max(col("close")).over(frame)
    val dd = when(gate0 && rmax > 0.0,
      (col("close") - rmax) / rmax * 100.0)
    val s1 = df.select(col("*"), (dd * dd).as("_dd2"))
    val s2 = Frames.withCums(s1, Map("_c_dd2" -> col("_dd2")))
    s2.select(col("*"),
        when(Frames.cumCountGate("_c_dd2", n),
          sqrt(Frames.cumRolling("_c_dd2", n) / n)).as(s"ulcer_$n"))
      .drop("_dd2")
      .drop(Frames.cumHelperCols(Seq("_c_dd2")): _*)
  }

  val TrixSpan = 15

  /** TRIX — 1-bar rate of change of a triple-smoothed EMA:
    *
    *   e1 = ema(close, span), e2 = ema(e1, span), e3 = ema(e2, span)
    *   trix = 100 · (e3 − lag(e3, 1)) / lag(e3, 1)
    *
    * Each smoothing runs through the same [[graft.expr.Ewma]] window
    * expression as MACD (adjust = true); the three stages are data-
    * dependent (e2 consumes e1's output), so they plan as chained
    * WindowExecs over the ONE shared per-symbol exchange — the same
    * shape as MACD's signal line. The oracle replays all three
    * recurrences with chained recursive CTEs. NULL on the first bar
    * (no prior e3); prices are positive so e3 never hits zero, but the
    * guard is mirrored in the oracle regardless. */
  def withTrix(df: DataFrame, n: Int = TrixSpan): DataFrame = {
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    def ema(c: org.apache.spark.sql.Column) =
      graft.expr.Ewma.ewmaSpanOver(c, n, adjust = true, part, ord)
    val s1 = df.select(col("*"), ema(col("close")).as("_e1"))
    val s2 = s1.select(col("*"), ema(col("_e1")).as("_e2"))
    val s3 = s2.select(col("*"), ema(col("_e2")).as("_e3"))
    val prev = lag(col("_e3"), 1).over(Frames.bySymbol)
    s3.select(col("*"),
        when(prev.isNotNull && prev =!= 0.0,
          (col("_e3") - prev) / prev * 100.0).as("trix"))
      .drop("_e1", "_e2", "_e3")
  }

  val AlligatorJaw = 13
  val AlligatorTeeth = 8
  val AlligatorLips = 5
  val AlligatorJawShift = 8
  val AlligatorTeethShift = 5
  val AlligatorLipsShift = 3

  /** Williams Alligator (1995): three Wilder-smoothed moving averages
    * (SMMA = adjust=false EWMA with α=1/n) of the median price
    * (high+low)/2 — jaw 13, teeth 8, lips 5 — each DISPLACED forward on
    * the chart by 8/5/3 bars. The causal feature convention: the value a
    * trading system reads at bar t is the line drawn there, i.e. the
    * smoothing from shift bars earlier (`lag`), so no lookahead. All
    * three recursions ride the one symbol exchange ([[withTrix]] class);
    * the oracle replays them in ONE recursive CTE with three
    * accumulators. */
  def withAlligator(df: DataFrame): DataFrame = {
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    val w = Frames.bySymbol
    def smma(c: org.apache.spark.sql.Column, n: Int) =
      graft.expr.Ewma.ewmaOver(c, 1.0 / n, adjust = false, part, ord)
    val s1 = df.select(col("*"),
      ((col("high") + col("low")) / 2.0).as("_mp"))
    val s2 = s1.select(col("*"),
      smma(col("_mp"), AlligatorJaw).as("_j"),
      smma(col("_mp"), AlligatorTeeth).as("_t"),
      smma(col("_mp"), AlligatorLips).as("_l"))
    s2.select(col("*"),
        lag(col("_j"), AlligatorJawShift).over(w).as("alligator_jaw"),
        lag(col("_t"), AlligatorTeethShift).over(w).as("alligator_teeth"),
        lag(col("_l"), AlligatorLipsShift).over(w).as("alligator_lips"))
      .drop("_mp", "_j", "_t", "_l")
  }

  val MassSpan = 9
  val MassWindow = 25

  /** Mass Index (Dorsey 1992): Σ over the last 25 bars of
    * EMA₉(high−low) / EMA₉(EMA₉(high−low)) — the range-bulge reversal
    * detector (a reading above ~27 marks a volatility bulge). Two chained
    * adjust=true EWMA recursions (the [[withTrix]] class, riding the one
    * symbol exchange), a zero-guard on the smoothed denominator, then the
    * O(n) cum−lag rolling sum. The running cum is a float accumulation:
    * Spark's window Sum folds strictly left-to-right, so the oracle
    * replays it with the sequential list fold (`cumSum`), never DuckDB's
    * pairwise-associating native windowed SUM. */
  def withMassIndex(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    def ema(c: org.apache.spark.sql.Column) =
      graft.expr.Ewma.ewmaSpanOver(c, MassSpan, adjust = true, part, ord)
    val w = Frames.bySymbol
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s1 = df.select(col("*"), (col("high") - col("low")).as("_rng"))
    val s2 = s1.select(col("*"), ema(col("_rng")).as("_e1"))
    val s3 = s2.select(col("*"), ema(col("_e1")).as("_e2"))
    val s4 = s3.select(col("*"),
      when(col("_e2") =!= 0.0, col("_e1") / col("_e2")).as("_ratio"),
      row_number().over(w).cast("long").as("_rn"))
    val s5 = s4.select(col("*"), sum(col("_ratio")).over(run).as("_cum"))
    s5.select(col("*"),
        when(col("_rn") >= MassWindow,
          col("_cum") - coalesce(lag(col("_cum"), MassWindow).over(w),
            lit(0.0))).as("mass_index"))
      .drop("_rng", "_e1", "_e2", "_ratio", "_rn", "_cum")
  }

  val DemaSpan = 20

  /** DEMA and TEMA (Mulloy): lag-compensated moving averages built from
    * the same chained adjust=true EWMAs as [[withTrix]] —
    *
    *   dema = 2·e1 − e2 ;  tema = 3·e1 − 3·e2 + e3
    *
    * where e_k is the k-times-iterated EMA of close. The combinations
    * cancel the EMA's first-order lag (DEMA) and second-order lag (TEMA),
    * which is why trend systems prefer them to a same-span SMA. All three
    * EMA passes ride ONE symbol exchange (PlanSpec's fused-window class);
    * the oracle replays each recurrence as a recursive CTE. */
  def withDemaTema(df: DataFrame, n: Int = DemaSpan): DataFrame = {
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    def ema(c: org.apache.spark.sql.Column) =
      graft.expr.Ewma.ewmaSpanOver(c, n, adjust = true, part, ord)
    val s1 = df.select(col("*"), ema(col("close")).as("_e1"))
    val s2 = s1.select(col("*"), ema(col("_e1")).as("_e2"))
    val s3 = s2.select(col("*"), ema(col("_e2")).as("_e3"))
    s3.select(col("*"),
        (lit(2.0) * col("_e1") - col("_e2")).as(s"dema_$n"),
        (lit(3.0) * col("_e1") - lit(3.0) * col("_e2") + col("_e3"))
          .as(s"tema_$n"))
      .drop("_e1", "_e2", "_e3")
  }

  /** Rolling z-score outlier flags — the data-quality gate a market
    * pipeline runs before features: per symbol, the 20-bar rolling
    * mean/std (identical cum−lag formulation to Bollinger's), then
    * zscore = (close − mean)/std and |z| > k flags. NULL until the
    * min_samples gate opens or while the frame is constant (std = 0) —
    * a constant series has no outliers to score. */
  def withOutliers(df: DataFrame, n: Int = 20, k: Double = 3.0): DataFrame = {
    val close = col("close")
    val c = Frames.withCums(df, Map(
      "_c_oc" -> close, "_c_oc2" -> (close * close)))
    val gate = Frames.cumCountGate("_c_oc", n)
    val s1 = Frames.cumRolling("_c_oc", n)
    val s2 = Frames.cumRolling("_c_oc2", n)
    val sd = sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), lit(0.0)))
    val z = when(gate && sd > 0.0, (close - s1 / n) / sd)
    c.select(col("*"),
        z.as("zscore"),
        (abs(z) > k).cast("int").as("is_outlier"))
      .drop(Frames.cumHelperCols(Seq("_c_oc", "_c_oc2")): _*)
  }

  /** Running peak close, drawdown from peak, and worst (max) drawdown so
    * far — per symbol, time-ordered:
    *
    *   peak         = max(close) over rows so far
    *   drawdown     = (close − peak) / peak        (≤ 0)
    *   max_drawdown = min(drawdown) over rows so far
    *
    * Both window aggregates are extrema — order-insensitive, so the oracle's
    * engine-native windowed MAX/MIN reproduce them bit-exactly with no
    * sequential-fold machinery. Two chained window passes share one
    * exchange + sort (same [[Frames.bySymbol]] spec). */
  def withDrawdown(df: DataFrame): DataFrame = {
    val running = Frames.bySymbol
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val stage1 = df.select(col("*"),
      max(col("close")).over(running).as("peak"))
    stage1.select(col("*"),
        ((col("close") - col("peak")) / col("peak")).as("drawdown"))
      .select(col("*"),
        min(col("drawdown")).over(running).as("max_drawdown"))
  }

  /** Chande Momentum Oscillator over n bars — RSI's unsmoothed sibling:
    *
    *   up  = max(Δclose, 0)     dn = max(−Δclose, 0)   (null first bar)
    *   cmo = 100 · (Σup − Σdn) / (Σup + Σdn)   over the last n deltas
    *
    * Unlike RSI there is no EWMA recurrence — both rolling sums come from
    * the same O(n) cum−lag identity as every other rolling feature, so the
    * oracle replays them with sequential list_sum folds. NULL until n
    * deltas are in frame or when the frame is flat (Σup + Σdn = 0). */
  def withChande(df: DataFrame, n: Int = graft.Params.ChandeWindow): DataFrame = {
    val delta = col("close") - lag(col("close"), 1).over(Frames.bySymbol)
    val s1 = df.select(col("*"),
      ((delta > 0).cast("double") * delta).as("_up"),
      ((delta < 0).cast("double") * (-delta)).as("_dn"))
    val s2 = Frames.withCums(s1, Map("_c_up" -> col("_up"),
      "_c_dn" -> col("_dn")))
    val su = Frames.cumRolling("_c_up", n)
    val sd = Frames.cumRolling("_c_dn", n)
    s2.select(col("*"),
        when(Frames.cumCountGate("_c_up", n) && (su + sd) > 0.0,
          (su - sd) / (su + sd) * 100.0).as(s"cmo_$n"))
      .drop("_up", "_dn")
      .drop(Frames.cumHelperCols(Seq("_c_up", "_c_dn")): _*)
  }

  /** Detrended Price Oscillator — price vs a displaced moving average:
    *
    *   dpo = close[t − (n/2 + 1)] − SMA(close, n)[t]
    *
    * Strips the n-bar trend so shorter cycles stand out. Both terms are
    * causal (a backward shift and a trailing SMA), one lag + one cum−lag
    * rolling mean over the shared per-symbol exchange. NULL until both the
    * SMA frame is full and the displaced close exists. */
  def withDpo(df: DataFrame, n: Int = graft.Params.DpoWindow): DataFrame = {
    val shift = n / 2 + 1
    val s1 = Frames.withCums(df, Map("_c_dc" -> col("close")))
    val shifted = lag(col("close"), shift).over(Frames.bySymbol)
    s1.select(col("*"),
        when(Frames.cumCountGate("_c_dc", n) && shifted.isNotNull,
          shifted - Frames.cumRolling("_c_dc", n) / n).as(s"dpo_$n"))
      .drop(Frames.cumHelperCols(Seq("_c_dc")): _*)
  }

  /** Elder Ray — bull/bear power against a 13-bar EMA baseline:
    *
    *   ema13 = ewm_mean(close, span, adjust=true)
    *   elder_bull = high − ema13      elder_bear = low − ema13
    *
    * The EMA runs through the same [[graft.expr.Ewma]] Catalyst window
    * expression as MACD; the oracle replays the adjust=true num/den
    * recurrence in a recursive CTE. One window pass over the shared
    * per-symbol exchange. */
  def withElderRay(df: DataFrame, span: Int = graft.Params.ElderSpan): DataFrame = {
    val ema = graft.expr.Ewma.ewmaSpanOver(col("close"), span, adjust = true,
      Seq(col(Frames.SymbolCol)), Seq(col(Frames.TimeCol), col(Frames.TieCol)))
    df.select(col("*"), ema.as(s"ema_$span"))
      .select(col("*"),
        (col("high") - col(s"ema_$span")).as("elder_bull"),
        (col("low") - col(s"ema_$span")).as("elder_bear"))
  }

  /** Heikin-Ashi candles — the smoothed OHLC transform charting stacks use:
    *
    *   ha_close = (open + high + low + close) / 4            (narrow)
    *   ha_open  = (ha_open[t−1] + ha_close[t−1]) / 2,
    *              seeded (open₁ + close₁) / 2                 (recursive)
    *   ha_high  = max(high, ha_open, ha_close)
    *   ha_low   = min(low,  ha_open, ha_close)
    *
    * The ha_open recursion is EXACTLY the adjust=false EWMA recurrence with
    * α = 0.5 over x[t] = ha_close[t−1] (seeded with x₁ = (open₁+close₁)/2):
    * y = y·0.5 + 0.5·x — so it reuses the [[graft.expr.Ewma]] window
    * expression verbatim instead of needing its own stateful operator, and
    * the oracle replays the identical per-step tree in a recursive CTE.
    * Two chained window passes (the lag, then the recurrence) over the one
    * shared per-symbol exchange. */
  def withHeikinAshi(df: DataFrame): DataFrame = {
    val s1 = df.select(col("*"),
      ((col("open") + col("high") + col("low") + col("close")) / 4.0)
        .as("ha_close"))
    val s2 = s1.select(col("*"),
      coalesce(lag(col("ha_close"), 1).over(Frames.bySymbol),
        (col("open") + col("close")) / 2.0).as("_ha_x"))
    val haOpen = graft.expr.Ewma.ewmaOver(col("_ha_x"), 0.5, adjust = false,
      Seq(col(Frames.SymbolCol)), Seq(col(Frames.TimeCol), col(Frames.TieCol)))
    s2.select(col("*"), haOpen.as("ha_open"))
      .select(col("*"),
        greatest(col("high"), col("ha_open"), col("ha_close")).as("ha_high"),
        least(col("low"), col("ha_open"), col("ha_close")).as("ha_low"))
      .drop("_ha_x")
  }

  val FisherWindow = 10
  val FisherAlpha = 0.33

  /** Fisher transform (Ehlers 2002) — gaussianizes the bounded price
    * position so extremes become sharp, symmetric signal spikes:
    *
    *   pos = (close − rollmin) / (rollmax − rollmin)   over n bars
    *   x   = clamp(2·pos − 1, ±0.999)
    *   v   = 0.33·x + 0.67·v'          (EWMA adjust=false, α=0.33)
    *   fisher = 0.5·ln((1+v)/(1−v)) + 0.5·fisher'   (EWMA α=0.5 over z)
    *   fisher_signal = lag(fisher, 1)
    *
    * Both recursions are verbatim [[graft.expr.Ewma]] instances (seeded at
    * the first non-null input, per the Ewma contract — NOT the zero-seed
    * some chart platforms use; one definition, both engines). |x| ≤ 0.999
    * keeps |v| ≤ 0.999 (convex combination), so the log argument is always
    * positive. A flat window (max = min) nulls pos → the v state holds and
    * the chain continues — same null-transparency as the rest of the
    * family. Four window passes over the ONE shared per-symbol exchange. */
  def withFisher(df: DataFrame, n: Int = FisherWindow): DataFrame = {
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    val frame = Frames.bySymbol.rowsBetween(-(n - 1), 0)
    val full = count(col("close")).over(frame) === n
    val rmin = min(col("close")).over(frame)
    val rmax = max(col("close")).over(frame)
    val pos = when(full && rmax > rmin,
      (col("close") - rmin) / (rmax - rmin))
    // least/greatest SKIP nulls (both engines), so the warmup null must be
    // gated explicitly or the clamp floor leaks through as x = 0.999
    val x = when(pos.isNotNull,
      greatest(least(pos * 2.0 - 1.0, lit(0.999)), lit(-0.999)))
    val s1 = df.select(col("*"), x.as("_fx"))
    val s2 = s1.select(col("*"),
      graft.expr.Ewma.ewmaOver(col("_fx"), FisherAlpha, adjust = false,
        part, ord).as("_fv"))
    val z = log((lit(1.0) + col("_fv")) / (lit(1.0) - col("_fv")))
    val s3 = s2.select(col("*"), z.as("_fz"))
    val s4 = s3.select(col("*"),
      graft.expr.Ewma.ewmaOver(col("_fz"), 0.5, adjust = false,
        part, ord).as("fisher"))
    s4.select(col("*"),
        lag(col("fisher"), 1).over(Frames.bySymbol).as("fisher_signal"))
      .drop("_fx", "_fv", "_fz")
  }

  val KyleWindow = 20

  /** Kyle's lambda — rolling price-impact slope (Kyle 1985): the OLS
    * coefficient of Δclose on signed volume over the last n bars, ×1e6
    * (impact per million units of signed flow, the [[withAmihud]] scaling
    * convention):
    *
    *   x = sign(Δclose)·volume     y = Δclose        (null first bar)
    *   λ = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) · 1e6
    *
    * All five rolling sums via the O(n) cum−lag identity (sequential,
    * oracle bit-portable); NULL until n pairs are in frame or when signed
    * flow has no variance. Same two window passes over the shared
    * per-symbol exchange as [[withRollingCorr]]. */
  def withKyleLambda(df: DataFrame, n: Int = KyleWindow): DataFrame = {
    val dp = col("close") - lag(col("close"), 1).over(Frames.bySymbol)
    val s1 = df.select(col("*"), dp.as("_dp"),
      (signum(dp) * col("volume")).as("_sv"))
    val s2 = Frames.withCums(s1, Map(
      "_c_x" -> col("_sv"), "_c_y" -> col("_dp"),
      "_c_xy" -> (col("_sv") * col("_dp")),
      "_c_xx" -> (col("_sv") * col("_sv"))))
    val nD = lit(n.toDouble)
    val sx = Frames.cumRolling("_c_x", n)
    val sy = Frames.cumRolling("_c_y", n)
    val sxy = Frames.cumRolling("_c_xy", n)
    val sxx = Frames.cumRolling("_c_xx", n)
    val varx = nD * sxx - sx * sx
    s2.select(col("*"),
        when(Frames.cumCountGate("_c_xy", n) && varx > 0.0,
          (nD * sxy - sx * sy) / varx * 1000000.0).as(s"kyle_$n"))
      .drop("_dp", "_sv")
      .drop(Frames.cumHelperCols(Seq("_c_x", "_c_y", "_c_xy", "_c_xx")): _*)
  }

  /** Supertrend trailing-stop bands over SMA-ATR:
    *
    *   ub/lb = (high + low)/2 ± m·ATR(n)     (null through the ATR warmup)
    *   then the conditional band-ratchet + regime-flip recursion of
    *   [[graft.expr.SupertrendLine]] / [[graft.expr.SupertrendDir]]
    *
    * The ATR is the same cum−lag SMA formulation as [[withAtr]] (so the
    * oracle's bands are bit-identical, making every ratchet comparison
    * branch the same way in both engines); the recursion itself runs as
    * two evaluators over one custom-window state machine. Three window
    * passes (lag, cums, recursion) over the ONE shared per-symbol
    * exchange. */
  def withSupertrend(df: DataFrame, n: Int = graft.Params.SupertrendAtr,
      m: Double = graft.Params.SupertrendMult): DataFrame = {
    val prevClose = lag(col("close"), 1).over(Frames.bySymbol)
    val tr = greatest(
      col("high") - col("low"),
      abs(col("high") - prevClose),
      abs(col("low") - prevClose))
    val s1 = df.select(col("*"),
      coalesce(tr, col("high") - col("low")).as("_tr"),
      prevClose.as("_prevc"))
    val s2 = Frames.withCums(s1, Map("_c_tr" -> col("_tr")))
    val atr = when(Frames.cumCountGate("_c_tr", n),
      Frames.cumRolling("_c_tr", n) / n)
    val hl2 = (col("high") + col("low")) / 2.0
    val s3 = s2.select(col("*"),
      (hl2 + lit(m) * atr).as("_ub"),
      (hl2 - lit(m) * atr).as("_lb"))
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    s3.select(col("*"),
        graft.expr.Supertrend.lineOver(col("_ub"), col("_lb"), col("close"),
          col("_prevc"), part, ord).as("supertrend"),
        graft.expr.Supertrend.dirOver(col("_ub"), col("_lb"), col("close"),
          col("_prevc"), part, ord).cast("int").as("st_trend"))
      .drop("_tr", "_prevc", "_ub", "_lb")
      .drop(Frames.cumHelperCols(Seq("_c_tr")): _*)
  }

  /** Time-under-water: bars elapsed since the running peak was last set —
    * the DURATION half of drawdown risk ([[withDrawdown]] measures depth).
    * `close >= peak` marks exactly the rows where the running max was
    * (re)set, so the last such row number is a running MAX of a flagged
    * row number — all order-insensitive integer/extrema window aggregates,
    * bit-portable natively. Three chained passes over the one per-symbol
    * exchange. */
  def withUnderwater(df: DataFrame): DataFrame = {
    val running = Frames.bySymbol
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val s1 = df.select(col("*"),
      row_number().over(Frames.bySymbol).cast("long").as("_rn"))
    val s2 = s1.select(col("*"), max(col("close")).over(running).as("peak"))
    val s3 = s2.select(col("*"),
      max(when(col("close") >= col("peak"), col("_rn"))).over(running)
        .as("_peak_rn"))
    s3.select(col("*"),
        (col("_rn") - col("_peak_rn")).as("underwater_bars"),
        (col("close") < col("peak")).cast("int").as("is_underwater"))
      .drop("_rn", "_peak_rn")
  }

  val VwmaWindow = 20

  /** Volume-weighted moving average over the last n closes — the
    * participation-weighted trend line (a close above its VWMA is trading
    * rich vs where the volume actually transacted). Two rolling sums via
    * the O(n) cum−lag identity over the one [[Frames.bySymbol]] exchange;
    * both divisions gated (zero-volume windows exist at sf0.1, and Spark's
    * non-ANSI x/0 → NULL while DuckDB's → ±inf). */
  def withVwma(df: DataFrame, n: Int = VwmaWindow): DataFrame = {
    val s1 = df.select(col("*"), (col("close") * col("volume")).as("_cv"))
    val s2 = Frames.withCums(s1, Map(
      "_c_cv" -> col("_cv"), "_c_vl" -> col("volume")))
    val gate = Frames.cumCountGate("_c_cv", n)
    val den = Frames.cumRolling("_c_vl", n)
    val s3 = s2.select(col("*"),
      when(gate && den > 0.0,
        Frames.cumRolling("_c_cv", n) / den).as(s"vwma_$n"))
    s3.select(col("*"),
        when(col(s"vwma_$n") =!= 0.0,
          (col("close") - col(s"vwma_$n")) / col(s"vwma_$n") * 100)
          .as("vwma_distance"))
      .drop(Frames.cumHelperCols(Seq("_c_cv", "_c_vl")): _*)
      .drop("_cv")
  }

  val EomWindow = 14
  val EomScale = 10000.0

  /** Ease of Movement (Arms): how far price travels per unit of volume.
    *
    *   mid   = (high + low) / 2          dm = mid − mid[t−1]
    *   emv   = dm · (high − low + ε) · scale / volume   (box-ratio inverted
    *           into one left-associated product — identical tree both
    *           engines; ε keeps the doji high=low bar finite)
    *   emv_sma = rollmean(emv, n)        (min_samples gated)
    *
    * emv is NULL on the warmup row and on zero-volume bars (division gate);
    * the count gate then nulls any SMA window containing one. */
  def withEom(df: DataFrame, n: Int = EomWindow): DataFrame = {
    val mid = (col("high") + col("low")) / 2.0
    val s1 = df.select(col("*"),
      (mid - lag(mid, 1).over(Frames.bySymbol)).as("_dm"))
    val s2 = s1.select(col("*"),
      when(col("volume") > 0.0,
        col("_dm") * (col("high") - col("low") + 1e-10) * EomScale /
          col("volume")).as("emv"))
    val s3 = Frames.withCums(s2, Map("_c_emv" -> col("emv")))
    s3.select(col("*"),
        when(Frames.cumCountGate("_c_emv", n),
          Frames.cumRolling("_c_emv", n) / n).as(s"emv_sma_$n"))
      .drop(Frames.cumHelperCols(Seq("_c_emv")): _*)
      .drop("_dm")
  }

  val QstickWindow = 10

  /** Qstick (Chande): rolling mean of the candle body close − open — the
    * buying/selling-pressure balance (persistently positive bodies = closes
    * above opens = accumulation). Emits the per-bar body and its sign too;
    * the body SMA runs on the O(n) cum−lag identity. Integer sign via an
    * explicit CASE (Spark's `signum` returns DOUBLE; the CASE tree is
    * identical on both engines). */
  def withQstick(df: DataFrame, n: Int = QstickWindow): DataFrame = {
    val s1 = df.select(col("*"),
      (col("close") - col("open")).as("body"))
    val s2 = s1.select(col("*"),
      when(col("body") > 0.0, 1).when(col("body") < 0.0, -1).otherwise(0)
        .as("direction"))
    val s3 = Frames.withCums(s2, Map("_c_body" -> col("body")))
    s3.select(col("*"),
        when(Frames.cumCountGate("_c_body", n),
          Frames.cumRolling("_c_body", n) / n).as(s"qstick_$n"))
      .drop(Frames.cumHelperCols(Seq("_c_body")): _*)
  }

  val VhfWindow = 28

  /** Vertical Horizontal Filter: trendiness = net range over path length,
    *
    *   vhf = (max(close, n) − min(close, n)) / Σ|close − close[t−1]| over n
    *
    * high vhf → directional move, low vhf → congestion. Extrema are
    * order-insensitive window aggregates (bit-portable natively, n=28 so
    * the re-aggregating sliding frame is fine); the path-length denominator
    * is a rolling sum via the cum−lag identity, gated on n observed diffs
    * AND a non-zero path (flat windows read NULL, not ±inf). */
  def withVhf(df: DataFrame, n: Int = VhfWindow): DataFrame = {
    val frame = Frames.bySymbol.rowsBetween(-(n - 1), 0)
    val s1 = df.select(col("*"),
      abs(col("close") - lag(col("close"), 1).over(Frames.bySymbol))
        .as("_ad"))
    val s2 = Frames.withCums(s1, Map("_c_ad" -> col("_ad")))
    val den = Frames.cumRolling("_c_ad", n)
    val gate = Frames.cumCountGate("_c_ad", n) && den > 0.0
    s2.select(col("*"),
        when(gate,
          (max(col("close")).over(frame) - min(col("close")).over(frame)) /
            den).as(s"vhf_$n"))
      .drop(Frames.cumHelperCols(Seq("_c_ad")): _*)
      .drop("_ad")
  }

  val UltimatePeriods: Seq[Int] = Seq(7, 14, 28)

  /** Ultimate Oscillator (Williams): buying pressure over true range
    * averaged across three horizons, weighted toward the fastest —
    *
    *   pc = close[t−1] (first bar: own close — explicit COALESCE, not the
    *        engines' least/greatest null-skip, so the tree is obvious)
    *   bp = close − min(low, pc)        tr = max(high, pc) − min(low, pc)
    *   avgN = rollsum(bp, N) / rollsum(tr, N)     (N ∈ {7, 14, 28})
    *   uo = 100 · (4·avg7 + 2·avg14 + avg28) / 7
    *
    * Two sequential cums serve all three horizons (cum−lag identity); each
    * division gated on a full window AND a non-zero TR path; any NULL avg
    * NULLs uo by propagation. */
  def withUltimate(df: DataFrame): DataFrame = {
    val Seq(p1, p2, p3) = UltimatePeriods
    val pc = coalesce(lag(col("close"), 1).over(Frames.bySymbol), col("close"))
    val s1 = df.select(col("*"),
      (col("close") - least(col("low"), pc)).as("_bp"),
      (greatest(col("high"), pc) - least(col("low"), pc)).as("_tr"))
    val s2 = Frames.withCums(s1, Map(
      "_c_bp" -> col("_bp"), "_c_tr" -> col("_tr")))
    def avg(n: Int) = {
      val t = Frames.cumRolling("_c_tr", n)
      when(Frames.cumCountGate("_c_bp", n) && t > 0.0,
        Frames.cumRolling("_c_bp", n) / t)
    }
    s2.select(col("*"),
        (lit(100.0) * (lit(4.0) * avg(p1) + lit(2.0) * avg(p2) + avg(p3)) /
          7.0).as("ultimate_osc"))
      .drop(Frames.cumHelperCols(Seq("_c_bp", "_c_tr")): _*)
      .drop("_bp", "_tr")
  }

  val KstRocPeriods: Seq[Int] = Seq(10, 15, 20, 30)
  val KstSmaPeriods: Seq[Int] = Seq(10, 10, 10, 15)
  val KstSignal = 9

  /** Know Sure Thing (Pring): four smoothed rates of change, weighted 1–4,
    * plus its 9-bar signal line —
    *
    *   roc_p  = (close − close[t−p]) / (close[t−p] + ε) · 100
    *   rcma_i = rollmean(roc_pᵢ, sᵢ)         (min_samples gated)
    *   kst    = rcma₁ + 2·rcma₂ + 3·rcma₃ + 4·rcma₄
    *   signal = rollmean(kst, 9)             (gated on 9 non-null ksts)
    *
    * Five cums total (four ROC streams + the kst stream), all via the
    * O(n) cum−lag identity over the one per-symbol exchange. */
  def withKst(df: DataFrame): DataFrame = {
    val rocCols = KstRocPeriods.map { p =>
      val lagP = lag(col("close"), p).over(Frames.bySymbol)
      (s"_roc_$p", (col("close") - lagP) / (lagP + 1e-10) * 100)
    }
    val s1 = df.select(col("*") +: rocCols.map { case (n, c) => c.as(n) }: _*)
    val s2 = Frames.withCums(s1,
      rocCols.map { case (n, _) => s"_c$n" -> col(n) }.toMap)
    val rcmas = KstRocPeriods.zip(KstSmaPeriods).map { case (p, sm) =>
      when(Frames.cumCountGate(s"_c_roc_$p", sm),
        Frames.cumRolling(s"_c_roc_$p", sm) / sm)
    }
    val s3 = s2.select(col("*"),
      (rcmas(0) + rcmas(1) * 2.0 + rcmas(2) * 3.0 + rcmas(3) * 4.0).as("kst"))
    val s4 = Frames.withCums(s3, Map("_c_kst" -> col("kst")))
    s4.select(col("*"),
        when(Frames.cumCountGate("_c_kst", KstSignal),
          Frames.cumRolling("_c_kst", KstSignal) / KstSignal)
          .as("kst_signal"))
      .drop(Frames.cumHelperCols(
        KstRocPeriods.map(p => s"_c_roc_$p") :+ "_c_kst"): _*)
      .drop(KstRocPeriods.map(p => s"_roc_$p"): _*)
  }

  val HullWindow = 16

  /** Hull Moving Average, HMA(n) = WMA(2·WMA(n/2) − WMA(n), √n) — the
    * low-lag trend line. n = 16 keeps n/2 and √n integral.
    *
    * Every WMA is CLOSED-FORM over two running sums — no O(n·w) sliding
    * re-aggregation and no recursion:
    *
    *   WMA(x, w)[t] = (Σ rnₖ·xₖ − (rn_t − w)·Σ xₖ) / (w(w+1)/2)
    *                  (sums over the last w rows, k-weights 1..w emerge
    *                   from the global row number rn)
    *
    * Both rolling sums use the cum−lag identity (sequential fold, oracle
    * bit-portable); the second WMA pass runs over the derived raw series
    * with its own min_samples gate, which also absorbs the warmup NULLs of
    * pass one. Four cums total, one per-symbol exchange. */
  def withHull(df: DataFrame, n: Int = HullWindow): DataFrame = {
    val half = n / 2
    val rt = math.sqrt(n.toDouble).toInt
    def wma(cx: String, crx: String, w: Int) =
      when(Frames.cumCountGate(cx, w),
        (Frames.cumRolling(crx, w) -
          (col("_rn") - w) * Frames.cumRolling(cx, w)) / (w * (w + 1) / 2.0))
    val s1 = df.select(col("*"),
      row_number().over(Frames.bySymbol).cast("double").as("_rn"))
    val s2 = Frames.withCums(
      s1.select(col("*"), (col("_rn") * col("close")).as("_rx")),
      Map("_c_x" -> col("close"), "_c_rx" -> col("_rx")))
    val s3 = s2.select(col("*"),
      (wma("_c_x", "_c_rx", half) * 2.0 - wma("_c_x", "_c_rx", n))
        .as("hma_raw"))
    val s4 = Frames.withCums(
      s3.select(col("*"), (col("_rn") * col("hma_raw")).as("_rh")),
      Map("_c_h" -> col("hma_raw"), "_c_rh" -> col("_rh")))
    s4.select(col("*"), wma("_c_h", "_c_rh", rt).as(s"hma_$n"))
      .drop(Frames.cumHelperCols(Seq("_c_x", "_c_rx", "_c_h", "_c_rh")): _*)
      .drop("_rn", "_rx", "_rh")
  }

  val AwesomeFast = 5
  val AwesomeSlow = 34

  /** Awesome Oscillator (Williams): SMA₅ − SMA₃₄ of the median price
    * (high+low)/2 — the momentum gauge that pairs with [[withAlligator]].
    * Both rolling means are the O(n) cum−lag identity over ONE running
    * float cum (sequential on both engines: Spark's window Sum folds
    * left-to-right, the oracle list-folds), gated on full windows. */
  def withAwesome(df: DataFrame): DataFrame = {
    val s1 = Frames.withCums(
      df.select(col("*"), ((col("high") + col("low")) / 2.0).as("_mp")),
      Map("_c_mp" -> col("_mp")))
    def sma(w: Int) = when(Frames.cumCountGate("_c_mp", w),
      Frames.cumRolling("_c_mp", w) / w.toDouble)
    s1.select(col("*"),
        (sma(AwesomeFast) - sma(AwesomeSlow)).as("awesome"))
      .drop(Frames.cumHelperCols(Seq("_c_mp")): _*)
      .drop("_mp")
  }

  val CoppockRocLong = 14
  val CoppockRocShort = 11
  val CoppockWma = 10

  /** Coppock curve (1965): 10-period WMA of ROC(14) + ROC(11) — the
    * long-horizon momentum bottom-finder. The WMA is the same O(n)
    * closed form as [[withHull]] (row-number weight identity over two
    * running sums — no O(n·w) sliding frame); the raw ROC sum leads with
    * nulls through the warmup and the count gate opens the WMA only on a
    * full window of non-null values, exactly the Hull discipline. Float
    * running sums: Spark's window Sum folds sequentially and the oracle
    * replays with the sequential list fold. */
  def withCoppock(df: DataFrame): DataFrame = {
    val w = Frames.bySymbol
    def roc(n: Int) =
      (col("close") / lag(col("close"), n).over(w) - 1.0) * 100.0
    def wmaCol(cx: String, crx: String, wn: Int) =
      when(Frames.cumCountGate(cx, wn),
        (Frames.cumRolling(crx, wn) -
          (col("_rn") - wn) * Frames.cumRolling(cx, wn)) /
          (wn * (wn + 1) / 2.0))
    val s1 = df.select(col("*"),
      row_number().over(w).cast("double").as("_rn"),
      (roc(CoppockRocLong) + roc(CoppockRocShort)).as("coppock_raw"))
    val s2 = Frames.withCums(
      s1.select(col("*"), (col("_rn") * col("coppock_raw")).as("_rc")),
      Map("_c_c" -> col("coppock_raw"), "_c_rc" -> col("_rc")))
    s2.select(col("*"),
        wmaCol("_c_c", "_c_rc", CoppockWma).as("coppock"))
      .drop(Frames.cumHelperCols(Seq("_c_c", "_c_rc")): _*)
      .drop("_rn", "_rc")
  }

  val ForceSpan = 13

  /** Elder's Force Index: price change × volume, EMA(13)-smoothed
    * (adjust=false recursion via the native [[graft.expr.Ewma]] window
    * function — one WindowExec pass, no UDF). The raw per-bar force is
    * emitted too; its single leading NULL (no prior close) seeds the
    * recursion at bar 2, matching the oracle's recursive-CTE replay. */
  def withForce(df: DataFrame): DataFrame = {
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    val s1 = df.select(col("*"),
      ((col("close") - lag(col("close"), 1).over(Frames.bySymbol)) *
        col("volume")).as("force_raw"))
    s1.select(col("*"),
      graft.expr.Ewma.ewmaOver(col("force_raw"), 2.0 / (ForceSpan + 1.0),
        adjust = false, part, ord).as(s"force_$ForceSpan"))
  }

  val ChaikinFast = 3
  val ChaikinSlow = 10

  /** Chaikin Oscillator: EMA(3) − EMA(10) of the accumulation/distribution
    * line, ad = cumsum(clv·volume) with
    * clv = ((close−low) − (high−close)) / (high−low+ε).
    *
    * The AD line is a strictly sequential running sum (bit-portable via the
    * oracle's list_sum fold); both EMAs are adjust=true [[graft.expr.Ewma]]
    * recursions over it (MACD's convention), replayed by the oracle's
    * recursive CTE. One exchange, two WindowExec passes. */
  def withChaikinOsc(df: DataFrame): DataFrame = {
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    val running = Frames.bySymbol.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val clv = ((col("close") - col("low")) - (col("high") - col("close"))) /
      (col("high") - col("low") + 1e-10)
    val s1 = df.select(col("*"), (clv * col("volume")).as("_mfv"))
    val s2 = s1.select(col("*"), sum(col("_mfv")).over(running).as("ad_line"))
    s2.select(col("*"),
        (graft.expr.Ewma.ewmaSpanOver(col("ad_line"), ChaikinFast,
          adjust = true, part, ord) -
          graft.expr.Ewma.ewmaSpanOver(col("ad_line"), ChaikinSlow,
            adjust = true, part, ord)).as("chaikin_osc"))
      .drop("_mfv")
  }

  val VolumeIndexBase = 1000.0

  /** Negative & Positive Volume Index (Fosback): two conditional running
    * products seeded at 1000 — NVI compounds the bar's gross return only
    * when volume FELL (the "smart money" days), PVI only when it rose.
    *
    *   gf = 1 + (close − close[t−1]) / close[t−1]   (NULL on warmup and on
    *        a zero prior close — the division gate both engines share)
    *   nvi_t = volume < volume[t−1] ? nvi·gf : nvi   (pvi: >)
    *
    * The running product is the custom [[graft.expr.CondProd]] window
    * function (exp/ln round-trips are not bit-portable cross-engine);
    * the oracle replays the identical recursion as a recursive CTE. Both
    * indices ride ONE WindowExec pass over the shared symbol exchange. */
  def withVolumeIndex(df: DataFrame): DataFrame = {
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    val prevC = lag(col("close"), 1).over(Frames.bySymbol)
    val s1 = df.select(col("*"),
      (lit(1.0) + when(prevC =!= 0.0, (col("close") - prevC) / prevC))
        .as("_gf"),
      lag(col("volume"), 1).over(Frames.bySymbol).as("_pv"))
    s1.select(col("*"),
        graft.expr.CondProd.condProdOver(col("volume") < col("_pv"),
          col("_gf"), VolumeIndexBase, part, ord).as("nvi"),
        graft.expr.CondProd.condProdOver(col("volume") > col("_pv"),
          col("_gf"), VolumeIndexBase, part, ord).as("pvi"))
      .drop("_gf", "_pv")
  }

  val GarchOmega = 1e-6
  val GarchAlpha = 0.1
  val GarchBeta = 0.85

  /** GARCH(1,1) conditional variance with fixed textbook coefficients —
    * the volatility-clustering model every risk desk runs:
    *
    *   r_t  = (close − close[t−1]) / close[t−1]    (zero-prev gated)
    *   σ²_t = ω + α·r²_{t−1} + β·σ²_{t−1},  seeded at the unconditional
    *          variance ω/(1−α−β)
    *
    * Estimating (ω, α, β) is an MLE fit (out of relational scope); the
    * FILTERing recursion given coefficients is the per-row operator, and
    * it is the new [[graft.expr.LinearRec]] affine-recursion window
    * function — one WindowExec pass, oracle-replayed as a recursive CTE.
    * Emits σ² and σ (sqrt IS correctly rounded cross-engine, unlike pow);
    * both gated null until the first lagged return exists, and a mid-series
    * null return (zero prior close) holds the state — same rule both
    * engines. */
  def withGarch(df: DataFrame): DataFrame = {
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    val prev = lag(col("close"), 1).over(Frames.bySymbol)
    val s1 = df.select(col("*"),
      when(prev =!= 0.0, (col("close") - prev) / prev).as("_ret"))
    val l = lag(col("_ret"), 1).over(Frames.bySymbol)
    val s2 = s1.select(col("*"), (l * l).as("_x"))
    val v = graft.expr.LinearRec.linearRecOver(col("_x"),
      GarchOmega, GarchAlpha, GarchBeta,
      GarchOmega / (1.0 - GarchAlpha - GarchBeta), part, ord)
    s2.select(col("*"),
        when(col("_x").isNotNull, v).as("garch_var"),
        when(col("_x").isNotNull, sqrt(v)).as("garch_vol"))
      .drop("_ret", "_x")
  }

  /** Candlestick pattern flags — the classic single/two-bar shapes a
    * signal screener scans for, as exact comparison predicates (integer
    * flags, no float derivation beyond arithmetic both engines share):
    *
    *   doji            |close−open| ≤ 0.1·(high−low), high > low
    *   hammer          lower shadow ≥ 2·body AND upper shadow ≤ body
    *   engulfing bull  prev red, this green, this body covers prev body
    *   engulfing bear  the mirror
    *
    * One narrow projection + one lag pass on the symbol exchange. */
  def withCandles(df: DataFrame): DataFrame = {
    val w = Frames.bySymbol
    val body = abs(col("close") - col("open"))
    val upper = col("high") - greatest(col("open"), col("close"))
    val lower = least(col("open"), col("close")) - col("low")
    val po = lag(col("open"), 1).over(w)
    val pc = lag(col("close"), 1).over(w)
    def flag(c: org.apache.spark.sql.Column) =
      coalesce(c.cast("int"), lit(0))
    df.select(col("*"),
      flag(col("high") > col("low") &&
        body <= lit(0.1) * (col("high") - col("low"))).as("candle_doji"),
      flag(lower >= lit(2.0) * body && upper <= body).as("candle_hammer"),
      flag(pc < po && col("close") > col("open") &&
        col("open") <= pc && col("close") >= po).as("candle_engulf_bull"),
      flag(pc > po && col("close") < col("open") &&
        col("open") >= pc && col("close") <= po).as("candle_engulf_bear"))
  }

  val StochRsiWindow = 14

  /** StochRSI (Chande & Kroll): the stochastic oscillator APPLIED TO RSI —
    *
    *   stochrsi   = 100 · (rsi − min_n(rsi)) / (max_n(rsi) − min_n(rsi))
    *   stochrsi_k = 3-bar SMA of stochrsi     (the smoothed %K line)
    *
    * normalizing RSI against its own recent range makes the 0/100 pins far
    * more frequent than raw RSI's 30/70 touches — the faster mean-reversion
    * trigger. The RSI leg is the house recursion exactly (adjust=false
    * gain/loss EWMAs, the 100−100/(1+rs) tree of feat_rsi, so the oracle
    * reuses that replay verbatim); the range is native rolling MIN/MAX
    * (order-insensitive); the %K SMA runs through the cum−lag identity, so
    * no sliding-frame float sum ever re-associates cross-engine. NULL until
    * the n-bar range fills or while the range is flat (mx == mn). */
  def withStochRsi(df: DataFrame, n: Int = StochRsiWindow): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Frames.bySymbol
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    val prev = lag(col("close"), 1).over(w)
    val s1 = df.select(col("*"), (col("close") - prev).as("_d1"))
    val g = graft.expr.Ewma.ewmaSpanOver(
      (col("_d1") > 0).cast("double") * col("_d1"),
      graft.Params.RsiPeriod, adjust = false, part, ord)
    val l = graft.expr.Ewma.ewmaSpanOver(
      (col("_d1") < 0).cast("double") * (-col("_d1")),
      graft.Params.RsiPeriod, adjust = false, part, ord)
    val s2 = s1.select(col("*"),
      (lit(100) - lit(100) / (lit(1) + g / (l + lit(1e-10)))).as("_rsi"))
    val f = w.rowsBetween(-(n - 1), 0)
    val s3 = s2.select(col("*"),
      min(col("_rsi")).over(f).as("_mn"), max(col("_rsi")).over(f).as("_mx"),
      count(col("_rsi")).over(f).as("_cnt"))
    val s4 = s3.select(col("*"),
      when(col("_cnt") === n && col("_mx") > col("_mn"),
        (col("_rsi") - col("_mn")) / (col("_mx") - col("_mn")) * lit(100.0))
        .as("stochrsi"))
    val s5 = Frames.withCums(s4, Map("_c_sk" -> col("stochrsi")))
    s5.select(col("*"),
        when(Frames.cumCountGate("_c_sk", 3),
          Frames.cumRolling("_c_sk", 3) / lit(3.0)).as("stochrsi_k"))
      .drop("_d1", "_rsi", "_mn", "_mx", "_cnt")
      .drop(Frames.cumHelperCols(Seq("_c_sk")): _*)
  }

  val CrsiRsiPeriod = 3
  val CrsiStreakPeriod = 2
  val CrsiRankWindow = 20

  /** ConnorsRSI — the three-leg mean-reversion composite:
    *
    *   crsi = ( RSI(close, 3)
    *          + RSI(signed streak, 2)     (streak: +len up-runs, −len down,
    *                                       0 flat — gaps-and-islands)
    *          + PercentRank(ret, 20) ) / 3
    *
    * Legs reuse the house machinery exactly: RSI is the [[graft.expr.Ewma]]
    * adjust=false gain/loss pair with the identical 100−100/(1+rs) tree
    * ([[Features.computeAllFeatures]]'s rsi); the streak is [[withVolumeIndex]]-style
    * integer window arithmetic; the percent-rank leg counts prior-window
    * returns below today's via a frame-collected array (O(n·w), w=20 — the
    * window_mad cost class; a rank-vs-current-row predicate has no cum−lag
    * form). All windows cluster on (symbol, …): one exchange. */
  def withConnorsRsi(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Frames.bySymbol
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    def rsiOf(d: org.apache.spark.sql.Column, span: Int) = {
      val g = graft.expr.Ewma.ewmaSpanOver((d > 0).cast("double") * d,
        span, adjust = false, part, ord)
      val l = graft.expr.Ewma.ewmaSpanOver((d < 0).cast("double") * (-d),
        span, adjust = false, part, ord)
      lit(100) - lit(100) / (lit(1) + g / (l + 1e-10))
    }
    val prev = lag(col("close"), 1).over(w)
    val s1 = df.select(col("*"), (col("close") - prev).as("_d1"),
      when(col("close") > prev, 1).when(col("close") < prev, -1)
        .when(prev.isNotNull, 0).as("_dir"),
      ((col("close") - prev) / (prev + 1e-10)).as("_ret"))
    val byDir = Window.partitionBy(col("symbol"), col("_dir"))
      .orderBy(col(Frames.TimeCol), col(Frames.TieCol))
    val s2 = s1.select(col("*"), row_number().over(w).as("_rn"),
      row_number().over(byDir).as("_rnd"))
    val byIsland = Window
      .partitionBy(col("symbol"), col("_dir"), col("_rn") - col("_rnd"))
      .orderBy(col(Frames.TimeCol), col(Frames.TieCol))
    val s3 = s2.select(col("*"),
      (row_number().over(byIsland) * coalesce(col("_dir"), lit(0)))
        .cast("double").as("_streak"))
    val s4 = s3.select(col("*"),
      (col("_streak") - lag(col("_streak"), 1).over(w)).as("_ds"))
    val frame = w.rowsBetween(-CrsiRankWindow, -1)
    val s5 = s4.select(col("*"),
      collect_list(col("_ret")).over(frame).as("_arr"),
      count(col("_ret")).over(frame).as("_nprev"))
    val prank = when(
      col("_nprev") === CrsiRankWindow && col("_ret").isNotNull,
      expr("size(filter(_arr, x -> x < _ret))") * 100.0 / CrsiRankWindow)
    s5.select(col("*"), rsiOf(col("_d1"), CrsiRsiPeriod).as("crsi_rsi"),
        rsiOf(col("_ds"), CrsiStreakPeriod).as("crsi_streak_rsi"),
        prank.as("crsi_pct_rank"))
      .withColumn("crsi",
        (col("crsi_rsi") + col("crsi_streak_rsi") + col("crsi_pct_rank"))
          / 3.0)
      .drop("_d1", "_dir", "_ret", "_rn", "_rnd", "_streak", "_ds",
        "_arr", "_nprev")
  }

  val VovWindow = 20

  /** Volatility-of-volatility: the rolling std of the rolling return std —
    * the vol-regime-instability signal (the VVIX idea at bar granularity).
    * Two chained cum−lag std passes over the one symbol exchange; the
    * second pass's count gate (20 non-null vols among the last 20 rows)
    * also absorbs pass one's warmup NULLs, so vov starts at bar 40.
    * Identical raw-sums std tree as the volatility family (returns via
    * try_divide — the reference's ungated pct_change). */
  def withVolOfVol(df: DataFrame, n: Int = VovWindow): DataFrame = {
    val w = Frames.bySymbol
    val prev = lag(col("close"), 1).over(w)
    def stdOf(c1: String, c2: String) = {
      val s1 = Frames.cumRolling(c1, n)
      val s2 = Frames.cumRolling(c2, n)
      when(Frames.cumCountGate(c1, n),
        sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), lit(0.0))))
    }
    val a = df.select(col("*"),
      try_divide(col("close") - prev, prev).as("_vr"))
    val b = Frames.withCums(a, Map(
      "_c_v1" -> col("_vr"), "_c_v2" -> (col("_vr") * col("_vr"))))
    val c = b.select(col("*"), stdOf("_c_v1", "_c_v2").as(s"vol_$n"))
      .drop(Frames.cumHelperCols(Seq("_c_v1", "_c_v2")): _*)
    val d = Frames.withCums(c, Map(
      "_c_w1" -> col(s"vol_$n"), "_c_w2" -> (col(s"vol_$n") * col(s"vol_$n"))))
    d.select(col("*"), stdOf("_c_w1", "_c_w2").as(s"vol_of_vol_$n"))
      .drop(Frames.cumHelperCols(Seq("_c_w1", "_c_w2")): _*)
      .drop("_vr")
  }

  /** Session-anchored VWAP: [[withVwap]]'s cumulative form RESET at each
    * trading-day boundary — the intraday benchmark execution desks
    * actually quote ("price vs today's VWAP"), which the whole-history
    * vwap_cum can't give. The (symbol, day) running sums are
    * subpartitions of the symbol exchange (hashpartitioning(symbol)
    * satisfies the finer clustering — no extra shuffle) and accumulate
    * strictly in row order, so the oracle replays them with per-day
    * list_sum folds. */
  def withAnchoredVwap(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDay = Window
      .partitionBy(col(Frames.SymbolCol), to_date(col(Frames.TimeCol)))
      .orderBy(col(Frames.TimeCol), col(Frames.TieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val typical = (col("high") + col("low") + col("close")) / 3.0
    val s1 = df.select(col("*"), (typical * col("volume")).as("_apv"))
    val s2 = s1.select(col("*"),
      sum(col("_apv")).over(wDay).as("_dpv"),
      sum(col("volume")).over(wDay).as("_dv"))
    val av = when(col("_dv") > 0.0, col("_dpv") / col("_dv"))
    s2.select(col("*"), av.as("anchored_vwap"))
      .select(col("*"),
        when(col("anchored_vwap") =!= 0.0,
          (col("close") - col("anchored_vwap")) / col("anchored_vwap") * 100)
          .as("avwap_distance"))
      .drop("_apv", "_dpv", "_dv")
  }

  val RiskAdjWindow = 20

  /** Risk-adjusted return ratios over the last n bars — the two numbers a
    * strategy report leads with:
    *
    *   sharpe  = rollmean(ret) / rollstd(ret)
    *   sortino = rollmean(ret) / downside_dev,
    *             downside_dev = √(Σ min(ret,0)² / n)   (semideviation —
    *             only losses count as risk)
    *
    * Unannualized (the √(bars/year) factor is presentation). Returns use
    * the volatility family's ungated try_divide convention; all three
    * rolling sums ride the same cum−lag pass, divisions gated on positive
    * denominators. */
  def withRiskAdj(df: DataFrame, n: Int = RiskAdjWindow): DataFrame = {
    val w = Frames.bySymbol
    val prev = lag(col("close"), 1).over(w)
    val ret = try_divide(col("close") - prev, prev)
    val s1 = df.select(col("*"), ret.as("_ra"))
    val dd2 = when(col("_ra").isNotNull,
      when(col("_ra") < 0.0, col("_ra") * col("_ra")).otherwise(0.0))
    val s2 = Frames.withCums(s1, Map(
      "_c_m" -> col("_ra"), "_c_m2" -> (col("_ra") * col("_ra")),
      "_c_dd" -> dd2))
    val gate = Frames.cumCountGate("_c_m", n)
    val m1 = Frames.cumRolling("_c_m", n)
    val m2 = Frames.cumRolling("_c_m2", n)
    val mean = when(gate, m1 / n)
    val std = when(gate,
      sqrt(greatest((m2 - m1 * m1 / n) / (n - 1), lit(0.0))))
    val downside = when(gate, sqrt(Frames.cumRolling("_c_dd", n) / n))
    val s3 = s2.select(col("*"), mean.as("_mean"), std.as("_std"),
      downside.as(s"downside_dev_$n"))
    s3.select(col("*"),
        when(col("_std") > 0.0, col("_mean") / col("_std"))
          .as(s"sharpe_$n"),
        when(col(s"downside_dev_$n") > 0.0,
          col("_mean") / col(s"downside_dev_$n")).as(s"sortino_$n"))
      .drop(Frames.cumHelperCols(Seq("_c_m", "_c_m2", "_c_dd")): _*)
      .drop("_ra", "_mean", "_std")
  }

  val ZigzagTheta = 0.05

  /** Causal ZigZag swing legs (see [[graft.expr.ZigZag]]): per-bar leg
    * direction, the leg's running extreme, and the reversal-confirmed
    * flag at 5% retracement. One WindowExec pass on the shared exchange. */
  def withZigzag(df: DataFrame): DataFrame = {
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    df.select(col("*"),
        graft.expr.ZigZag.zigzagOver(col("close"), ZigzagTheta, part, ord)
          .as("_zz"))
      .select(col("*"),
        col("_zz.dir").cast("int").as("zz_dir"),
        col("_zz.ext").as("zz_extreme"),
        col("_zz.flip").cast("int").as("zz_reversal"))
      .drop("_zz")
  }

  val RenkoBrick = 5.0

  /** Renko brick stream per symbol: anchor (close of the last completed
    * brick), side of that brick, bricks completed AT this row, and the
    * running brick count. One state-machine window pass (see
    * [[graft.expr.Renko]]); the cumulative count is an integer running sum
    * over the same partitioning, so Catalyst fuses both into one
    * exchange. */
  def withRenko(df: DataFrame): DataFrame = {
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    df.select(col("*"),
        graft.expr.Renko.renkoOver(col("close"), RenkoBrick, part, ord)
          .as("_rk"))
      .select(col("*"),
        col("_rk.anchor").as("renko_anchor"),
        col("_rk.dir").cast("int").as("renko_dir"),
        col("_rk.bricks").cast("long").as("renko_bricks"))
      .drop("_rk")
      .withColumn("renko_count",
        sum(col("renko_bricks")).over(Frames.bySymbol.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
  }

  val ChopWindow = 14

  /** Choppiness Index (Dreiss): 100·ln(ΣTR / (maxH − minL)) / ln(n) — path
    * length over net range on a log scale; ~100 = sideways chop, ~0 =
    * straight-line trend. ΣTR via the cum−lag identity, extrema native
    * (order-insensitive), the ln(n) normalizer folded to a DRIVER-side
    * literal so only one runtime ln remains (ln agrees bitwise
    * cross-engine — the tfidf/PMI/entropy precedent). Gated on a full
    * window, a positive range and a positive path. */
  def withChoppiness(df: DataFrame, n: Int = ChopWindow): DataFrame = {
    val frame = Frames.bySymbol.rowsBetween(-(n - 1), 0)
    val pc = coalesce(lag(col("close"), 1).over(Frames.bySymbol), col("close"))
    val s1 = df.select(col("*"),
      (greatest(col("high"), pc) - least(col("low"), pc)).as("_ctr"))
    val s2 = Frames.withCums(s1, Map("_c_ctr" -> col("_ctr")))
    val sumTr = Frames.cumRolling("_c_ctr", n)
    val hh = max(col("high")).over(frame)
    val ll = min(col("low")).over(frame)
    val gate = Frames.cumCountGate("_c_ctr", n) && hh > ll && sumTr > 0.0
    s2.select(col("*"),
        when(gate,
          lit(100.0) * log(sumTr / (hh - ll)) / math.log(n.toDouble))
          .as(s"chop_$n"))
      .drop(Frames.cumHelperCols(Seq("_c_ctr")): _*)
      .drop("_ctr")
  }

  /** TTM-style squeeze flag: Bollinger bands INSIDE the Keltner channel
    * marks a volatility compression that typically precedes a breakout.
    * The Keltner channel here is Chester Keltner's ORIGINAL formulation —
    * SMA of typical price ± SMA of the bar range — so the whole composite
    * stays on the non-recursive cum−lag machinery (the modern EMA/ATR
    * variant lives in [[withKeltner]]):
    *
    *   kel_mid  = SMA(tp, n)      band = SMA(high − low, n)
    *   squeeze_on = bb_upper < kel_mid + band AND bb_lower > kel_mid − band
    *
    * The bb_* columns are selected from [[Features.computeAllFeatures]].
    * The flag compares the UNROUNDED doubles, identically re-derived in
    * the oracle. One more window pass over the shared per-symbol
    * exchange on top of Bollinger's. */
  def withSqueeze(df: DataFrame, n: Int = graft.Params.BbPeriod): DataFrame = {
    val withBb = Features.computeAllFeatures(df)
      .select((df.columns.toSeq ++ Features.BollingerCols).map(col): _*)
    val tp = (col("high") + col("low") + col("close")) / 3.0
    val rng = col("high") - col("low")
    val s1 = withBb.select(col("*"), tp.as("_tp"), rng.as("_rg"))
    val s2 = Frames.withCums(s1, Map("_c_tp" -> col("_tp"),
      "_c_rg" -> col("_rg")))
    val gate = Frames.cumCountGate("_c_tp", n)
    val mid = when(gate, Frames.cumRolling("_c_tp", n) / n)
    val band = when(gate, Frames.cumRolling("_c_rg", n) / n)
    s2.select(col("*"),
        mid.as("kel_mid"),
        (mid + band).as("kel_high"),
        (mid - band).as("kel_low"),
        (col("bb_upper") < (mid + band) && col("bb_lower") > (mid - band))
          .cast("int").as("squeeze_on"))
      .drop("_tp", "_rg")
      .drop(Frames.cumHelperCols(Seq("_c_tp", "_c_rg")): _*)
  }

  /** Parabolic SAR trailing stop (basic Wilder recursion, no prior-bar
    * clamp — see [[graft.expr.PsarBase]]): the line plus the ±1 regime.
    * One window pass (the recursion needs only high/low), shared
    * per-symbol exchange. */
  def withPsar(df: DataFrame,
      af0: Double = graft.Params.PsarAf0,
      inc: Double = graft.Params.PsarInc,
      afMax: Double = graft.Params.PsarAfMax): DataFrame = {
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    df.select(col("*"),
      graft.expr.Psar.lineOver(col("high"), col("low"), af0, inc, afMax,
        part, ord).as("psar"),
      graft.expr.Psar.dirOver(col("high"), col("low"), af0, inc, afMax,
        part, ord).cast("int").as("psar_trend"))
  }

  /** Classic floor-trader pivot points — today's support/resistance levels
    * from YESTERDAY's daily high/low/close:
    *
    *   P  = (H + L + C) / 3
    *   R1 = 2P − L    S1 = 2P − H    R2 = P + (H − L)    S2 = P − (H − L)
    *
    * The day table is |symbols|×|days| rows — a partial+final aggregate
    * collapses the bar stream map-side, the per-symbol day lag runs on that
    * tiny frame, and the result BROADCASTS back onto the bars (no second
    * shuffle of the fact stream — the join key (symbol, date) is derived,
    * so co-partitioning can't be assumed; at 100 TB the day table is still
    * only ~730 rows per symbol-year). Last close of the day is max_by on
    * event_id — deterministic, order-insensitive, bit-portable (DuckDB
    * arg_max). First day per symbol has no prior day → NULL levels. */
  def withPivotPoints(df: DataFrame): DataFrame = {
    val day = df
      .groupBy(col(Frames.SymbolCol), to_date(col(Frames.TimeCol)).as("_d"))
      .agg(max(col("high")).as("_dh"), min(col("low")).as("_dl"),
        max_by(col("close"), col(Frames.TieCol)).as("_dc"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(Frames.SymbolCol).orderBy("_d")
    val prev = day.select(col(Frames.SymbolCol), col("_d"),
      lag(col("_dh"), 1).over(wd).as("_ph"),
      lag(col("_dl"), 1).over(wd).as("_pl"),
      lag(col("_dc"), 1).over(wd).as("_pc"))
    val p = (col("_ph") + col("_pl") + col("_pc")) / 3.0
    val piv = prev.select(col(Frames.SymbolCol), col("_d"),
      p.as("pivot"),
      (p * 2.0 - col("_pl")).as("pivot_r1"),
      (p * 2.0 - col("_ph")).as("pivot_s1"),
      (p + (col("_ph") - col("_pl"))).as("pivot_r2"),
      (p - (col("_ph") - col("_pl"))).as("pivot_s2"))
    df.withColumn("_d", to_date(col(Frames.TimeCol)))
      .join(broadcast(piv), Seq(Frames.SymbolCol, "_d"), "left")
      .drop("_d")
  }

  val TsiLong = 25
  val TsiShort = 13

  /** True Strength Index (Blau 1991) — double-EMA-smoothed 1-bar momentum:
    *
    *   mom = close − lag(close, 1)
    *   tsi = 100 · ema₁₃(ema₂₅(mom)) / ema₁₃(ema₂₅(|mom|))
    *
    * EMAs are adjust=true (the MACD convention, reference
    * engineering.py:49-52 default). `mom` is null on each symbol's first
    * bar, so both chains start on bar 2 ([[graft.expr.Ewma]] leading-null
    * semantics); since mom and |mom| share null positions, the two chains
    * share the EWMA denominator bit-for-bit — the oracle exploits that
    * with one df accumulator per stage. All four Ewma window expressions
    * ride the ONE per-symbol exchange (the [[withTrix]] chained-WindowExec
    * class). Flat symbol (denominator 0) → NULL. */
  def withTsi(df: DataFrame, nLong: Int = TsiLong,
      nShort: Int = TsiShort): DataFrame = {
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    def ema(c: org.apache.spark.sql.Column, n: Int) =
      graft.expr.Ewma.ewmaSpanOver(c, n, adjust = true, part, ord)
    val mom = col("close") - lag(col("close"), 1).over(Frames.bySymbol)
    val s1 = df.select(col("*"), mom.as("_m"), abs(mom).as("_am"))
    val s2 = s1.select(col("*"),
      ema(col("_m"), nLong).as("_e1"), ema(col("_am"), nLong).as("_ae1"))
    val s3 = s2.select(col("*"),
      ema(col("_e1"), nShort).as("_e2"), ema(col("_ae1"), nShort).as("_ae2"))
    s3.select(col("*"),
        when(col("_ae2").isNotNull && col("_ae2") =!= 0.0,
          col("_e2") / col("_ae2") * 100.0).as("tsi"))
      .drop("_m", "_am", "_e1", "_ae1", "_e2", "_ae2")
  }

  val PpoFast = 12
  val PpoSlow = 26
  val PpoSignal = 9

  /** Percentage Price Oscillator — MACD normalized by the slow EMA so the
    * oscillator is comparable across price levels:
    *
    *   ppo        = 100 · (ema₁₂(close) − ema₂₆(close)) / ema₂₆(close)
    *   ppo_signal = ema₉(ppo)        ppo_hist = ppo − ppo_signal
    *
    * Same two-stage plan as MACD (the signal EMA consumes a derived
    * series), one shared per-symbol exchange. Prices are positive so the
    * slow EMA never reaches zero; the guard is mirrored in the oracle
    * regardless. */
  def withPpo(df: DataFrame, fast: Int = PpoFast, slow: Int = PpoSlow,
      signal: Int = PpoSignal): DataFrame = {
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    def ema(c: org.apache.spark.sql.Column, n: Int) =
      graft.expr.Ewma.ewmaSpanOver(c, n, adjust = true, part, ord)
    val s1 = df.select(col("*"),
      ema(col("close"), fast).as("_ef"), ema(col("close"), slow).as("_es"))
    val s2 = s1.select(col("*"),
      when(col("_es") =!= 0.0,
        (col("_ef") - col("_es")) / col("_es") * 100.0).as("ppo"))
    val sig = ema(col("ppo"), signal)
    s2.select(col("*"),
        sig.as("ppo_signal"), (col("ppo") - sig).as("ppo_hist"))
      .drop("_ef", "_es")
  }

  /** Percentage Volume Oscillator — [[withPpo]] on volume instead of
    * price. Volume CAN hit zero (unlike prices), so the slow-EMA guard and
    * the signal chain's first-non-null seeding are live paths here, not
    * belt-and-braces. */
  def withPvo(df: DataFrame, fast: Int = PpoFast, slow: Int = PpoSlow,
      signal: Int = PpoSignal): DataFrame = {
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    def ema(c: org.apache.spark.sql.Column, n: Int) =
      graft.expr.Ewma.ewmaSpanOver(c, n, adjust = true, part, ord)
    val s1 = df.select(col("*"),
      ema(col("volume"), fast).as("_ef"), ema(col("volume"), slow).as("_es"))
    val s2 = s1.select(col("*"),
      when(col("_es") =!= 0.0,
        (col("_ef") - col("_es")) / col("_es") * 100.0).as("pvo"))
    val sig = ema(col("pvo"), signal)
    s2.select(col("*"),
        sig.as("pvo_signal"), (col("pvo") - sig).as("pvo_hist"))
      .drop("_ef", "_es")
  }

  val KlingerFast = 34
  val KlingerSlow = 55
  val KlingerSignal = 13

  /** Klinger Volume Oscillator (simplified trend-sign volume force):
    *
    *   hlc3 = (high + low + close) / 3
    *   vf   = volume · sign(hlc3 − lag(hlc3, 1))
    *   kvo  = ema₃₄(vf) − ema₅₅(vf)      klinger_signal = ema₁₃(kvo)
    *
    * The volume-force series is null on bar 1 (no prior hlc3), so both
    * EMAs and the signal chain start on bar 2 — the [[withTsi]] seeding
    * class. Three Ewma expressions + one signal pass over the one
    * per-symbol exchange; the oracle replays the fast/slow pair in a
    * single recursive CTE with a shared df (identical null positions). */
  def withKlinger(df: DataFrame, fast: Int = KlingerFast,
      slow: Int = KlingerSlow, signal: Int = KlingerSignal): DataFrame = {
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    def ema(c: org.apache.spark.sql.Column, n: Int) =
      graft.expr.Ewma.ewmaSpanOver(c, n, adjust = true, part, ord)
    val hlc3 = (col("high") + col("low") + col("close")) / 3.0
    val s1 = df.select(col("*"),
      (col("volume") * signum(hlc3 - lag(hlc3, 1).over(Frames.bySymbol)))
        .as("_vf"))
    val s2 = s1.select(col("*"),
      (ema(col("_vf"), fast) - ema(col("_vf"), slow)).as("kvo"))
    val sig = ema(col("kvo"), signal)
    s2.select(col("*"), sig.as("klinger_signal"))
      .drop("_vf")
  }
}
