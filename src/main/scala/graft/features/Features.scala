package graft.features

import graft.Params
import graft.expr.Ewma.ewmaSpanOver
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full 49-feature pipeline with the reference's composition semantics
  * (src/features/engineering.py:198-226: technical → momentum → volatility →
  * temporal), FUSED into the minimum number of window passes:
  *
  *   1. row-offset lags (delta, per-period close lags, pct-change, hl ratio)
  *   2. running aggregates (4 EWMAs + all cumulative sums/counts) — one
  *      WindowExec hosts every running frame
  *   3. lag-of-cums (the O(n) rolling-window differences) + macd
  *   4. signal EWMA over the derived macd series (data dependency forces
  *      this pass — the reference has the same second pass)
  *   5. pure projection: all feature arithmetic + calendar encodings
  *
  * 4 WindowExecs over one hashpartitioning(symbol) exchange. This is the
  * ONLY place the batch RSI/MACD/Bollinger/momentum/volatility formulas
  * are written: every per-family query (`feat_rsi`, `feat_momentum`, …),
  * the squeeze flag and the finite-window backfill select their columns
  * from it, and Catalyst's column pruning drops every window expression
  * the selection does not reference (a momentum selection plans no EWMA).
  * The family column lists below are the single naming of each family.
  */
object Features {

  def computeAllFeatures(df: DataFrame): DataFrame = {
    val s5 = withHelpers(df)
    // only this pipeline's own helpers: a caller's `_`-column (e.g. the
    // backfill's `_is_new` marker) passes through
    val helper = s5.columns.diff(df.columns).filter(_.startsWith("_"))
    Temporal.withTemporal(s5.drop(helper.toIndexedSeq: _*))
  }

  /** Passes 1-5 with their `_` helper columns still attached;
    * [[Incremental.ewmaState]] reads the terminal EWMA means
    * (`_avg_gain`, `_avg_loss`, `_ema_f`, `_ema_s`) from here. */
  private[features] def withHelpers(df: DataFrame): DataFrame = {
    val w = Frames.bySymbol
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val close = col("close")
    val P = Params.MomentumPeriods
    val V = Params.VolatilityWindows
    val bbN = Params.BbPeriod
    val bbK = Params.BbStd
    val part = Seq(col(Frames.SymbolCol))
    val ord = Seq(col(Frames.TimeCol), col(Frames.TieCol))
    def ewm(c: Column, span: Double, adjust: Boolean) =
      ewmaSpanOver(c, span, adjust, part, ord)
    def cum(e: Column) = coalesce(sum(e).over(running), lit(0.0))
    def cnt(e: Column) = count(e).over(running)
    import Frames.{cumCountGate => gate, cumRolling => roll}

    // 1: row-offset lags
    val delta = close - lag(close, 1).over(w)
    val prev = lag(close, 1).over(w)
    val s1 = df.select(col("*") +: (Seq(
      ((delta > 0).cast("double") * delta).as("_gain"),
      ((delta < 0).cast("double") * (-delta)).as("_loss"),
      try_divide(close - prev, prev).as("returns"),
      try_divide(col("high") - col("low"), close).as("_hl")) ++
      P.map(p => lag(close, p).over(w).as(s"_lag_$p"))): _*)

    // 2: running aggregates (EWMAs + cums), one WindowExec
    val s2 = s1.select(col("*"),
      ewm(col("_gain"), Params.RsiPeriod, adjust = false).as("_avg_gain"),
      ewm(col("_loss"), Params.RsiPeriod, adjust = false).as("_avg_loss"),
      ewm(close, Params.MacdFast, adjust = true).as("_ema_f"),
      ewm(close, Params.MacdSlow, adjust = true).as("_ema_s"),
      cum(close).as("_c_close"), cnt(close).as("_c_close_n"),
      cum(close * close).as("_c_close2"),
      cum(col("returns")).as("_c_r"), cnt(col("returns")).as("_c_r_n"),
      cum(col("returns") * col("returns")).as("_c_r2"),
      cum(col("_hl")).as("_c_hl"), cnt(col("_hl")).as("_c_hl_n"))

    // 3: lag-of-cums + macd, one WindowExec
    val s3 = s2.select(col("*") +: (
      Seq((col("_ema_f") - col("_ema_s")).as("macd")) ++
      P.flatMap(p => Seq(roll("_c_close", p).as(s"_s_$p"),
        gate("_c_close", p).as(s"_g_$p"))) ++
      Seq(roll("_c_close", bbN).as("_bs1"), roll("_c_close2", bbN).as("_bs2"),
        gate("_c_close", bbN).as("_bg")) ++
      V.flatMap(n => Seq(
        roll("_c_r", n).as(s"_rs_$n"), roll("_c_r2", n).as(s"_rq_$n"),
        gate("_c_r", n).as(s"_rg_$n"),
        roll("_c_hl", n).as(s"_hs_$n"), gate("_c_hl", n).as(s"_hg_$n")))): _*)

    // 4: second EWMA pass over the derived macd
    val s4 = s3.withColumn("macd_signal",
      ewm(col("macd"), Params.MacdSignal, adjust = true))

    // 5: pure projection — all feature arithmetic
    val rs = col("_avg_gain") / (col("_avg_loss") + 1e-10)
    val bbMid = when(col("_bg"), col("_bs1") / bbN)
    val bbSd = when(col("_bg"), sqrt(greatest(
      (col("_bs2") - col("_bs1") * col("_bs1") / bbN) / (bbN - 1), lit(0.0))))
    val momCols = P.flatMap { p =>
      val lagP = col(s"_lag_$p")
      val ret = (close - lagP) / (lagP + 1e-10)
      val sma = when(col(s"_g_$p"), col(s"_s_$p") / p)
      Seq(ret.as(s"return_$p"), (close - lagP).as(s"momentum_$p"),
        (ret * 100).as(s"roc_$p"), sma.as(s"sma_$p"),
        ((close - sma) / (sma + 1e-10) * 100).as(s"distance_sma_$p"))
    }
    val volCols = V.flatMap { n =>
      Seq(
        when(col(s"_rg_$n"), sqrt(greatest(
          (col(s"_rq_$n") - col(s"_rs_$n") * col(s"_rs_$n") / n) / (n - 1),
          lit(0.0)))).as(s"volatility_$n"),
        when(col(s"_rg_$n"), col(s"_rq_$n")).as(s"realized_vol_$n"),
        when(col(s"_hg_$n"), col(s"_hs_$n") / n).as(s"hl_range_$n"))
    }
    s4.select(col("*") +: (Seq(
      (lit(100) - lit(100) / (lit(1) + rs)).as("rsi"),
      (col("macd") - col("macd_signal")).as("macd_histogram"),
      bbMid.as("bb_middle"),
      (bbMid + bbSd * bbK).as("bb_upper"),
      (bbMid - bbSd * bbK).as("bb_lower"),
      try_divide((bbMid + bbSd * bbK) - (bbMid - bbSd * bbK), bbMid).as("bb_width")) ++
      momCols ++ volCols): _*)
  }

  // Per-family column names, each in its output order.
  val RsiCols: Seq[String] = Seq("rsi")
  val MacdCols: Seq[String] = Seq("macd", "macd_signal", "macd_histogram")
  val BollingerCols: Seq[String] = Seq("bb_middle", "bb_upper", "bb_lower", "bb_width")
  val MomentumCols: Seq[String] = Params.MomentumPeriods.flatMap(p =>
    Seq(s"return_$p", s"momentum_$p", s"roc_$p", s"sma_$p", s"distance_sma_$p"))
  val VolatilityCols: Seq[String] = "returns" +: Params.VolatilityWindows.flatMap(n =>
    Seq(s"volatility_$n", s"realized_vol_$n", s"hl_range_$n"))
  /** Calendar fields (long-typed) and their cyclic encodings (doubles). */
  val CalendarCols: Seq[String] = Seq("hour", "minute", "day_of_week", "day", "month")
  val CyclicCols: Seq[String] = Seq("hour_sin", "hour_cos",
    "day_of_week_sin", "day_of_week_cos", "month_sin", "month_cos")
  val TemporalCols: Seq[String] = CalendarCols ++ CyclicCols

  /** The 49 feature column names, mirroring the reference's exclusion rule
    * (src/ml/training.py:39-41: everything except OHLCV/datetime/target). */
  val FeatureCols: Seq[String] =
    RsiCols ++ MacdCols ++ BollingerCols ++ MomentumCols ++ VolatilityCols ++
      TemporalCols
}
