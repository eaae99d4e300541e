package graft.features

import graft.Params
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental backfill of the 49-feature pipeline's families.
  *
  * When a day of bars lands on a 100 TB feature table, recomputing the
  * whole history per symbol is the difference between "process a day" and
  * "process the archive". Every feature with a bounded window — momentum,
  * volatility, Bollinger, calendar — only reaches [[FiniteLookback]] rows
  * back, so the backfill reads the per-symbol history TAIL plus the new
  * rows, computes on that context, and keeps the new rows' features — at
  * O(new + symbols·lookback) cost. Equality with the full recompute is
  * exact in math and ulp-level in fp: the cum−lag rolling sums accumulate
  * from a different origin, so the window differences agree to relative
  * ~1e-12, not bit-for-bit (PropSpec pins this contract at 1e-9 relative
  * on random splits; null gates and lag-based features match exactly).
  * The formulas are [[Features.computeAllFeatures]]'s own: [[finiteFeatures]]
  * is a column selection of it, not a second definition.
  *
  * The EWMA families (RSI, MACD) carry unbounded memory, so their
  * incremental form is stateful rather than tail-windowed: [[ewmaState]]
  * extracts a one-row-per-symbol terminal state (last close, row count,
  * terminal EWMA means — O(symbols) bytes, persisted alongside the feature
  * table), and [[backfillEwma]] continues the recurrences over the new
  * rows only, at O(new) cost:
  *
  *  - adjust=false (RSI avg gain/loss): state is the terminal mean itself.
  *    A synthetic seed row per symbol re-enters it through the Ewma seed
  *    branch (`num = x` on first non-null), so continuation is BIT-equal
  *    to the full recompute.
  *  - adjust=true (MACD EMAs, signal): y_{T+k} factors exactly as
  *    ((1-α)^k·num_T + num'_k) / ((1-α)^k·den_T + den'_k) with
  *    num_T = y_T·den_T and den_T = (1-(1-α)^n)/α a function of the
  *    non-null count alone — so (y_T, n) is sufficient state and the
  *    continuation is exact in math, fp-equal at ~1e-13 (pow-form decay vs
  *    the iterated recurrence; PropSpec pins 1e-9).
  *
  * This continuation is a different algorithm for the same recurrences,
  * so PropSpec checks it against [[Features.computeAllFeatures]]. (The
  * streaming twin [[graft.streaming.Streams.streamingRsi]] carries them
  * across micro-batches.)
  */
object Incremental {

  /** Rows of history a new row's finite-window features can reach:
    * volatility windows aggregate `returns`, and each return needs its
    * previous close, so the deepest reach is max(V)+1 raw rows (the +1
    * also keeps the tail's first row — whose incremental `returns` is null
    * for lack of a predecessor — strictly OUTSIDE every new row's window);
    * momentum lags raw closes up to max(P); Bollinger spans BbPeriod. */
  val FiniteLookback: Int =
    (Params.VolatilityWindows.max + 1)
      .max(Params.MomentumPeriods.max)
      .max(Params.BbPeriod)

  /** The finite-window feature columns [[finiteFeatures]] emits. */
  val FiniteFeatureCols: Seq[String] =
    Features.MomentumCols ++ Features.VolatilityCols ++
      Features.BollingerCols ++ Features.TemporalCols

  /** The finite-window families (momentum, volatility, Bollinger,
    * calendar): `df`'s columns followed by [[FiniteFeatureCols]], selected
    * from [[Features.computeAllFeatures]]. Column pruning drops the EWMA
    * passes the selection does not reference, so the plan is the fused
    * pipeline's lag, running-sum and lag-of-sum windows only. */
  def finiteFeatures(df: DataFrame): DataFrame =
    Features.computeAllFeatures(df)
      .select((df.columns.toSeq ++ FiniteFeatureCols).map(col): _*)

  /** Compute finite-window features for `newBars` only, reading just the
    * per-symbol lookback tail of `history`. Contract: per symbol, every
    * new bar is strictly later than all history bars (append-only — the
    * same assumption the reference's cache update makes). Symbols with
    * history shorter than the lookback keep ALL their history, so the
    * min_samples null gates match the full recompute exactly. */
  def backfillFinite(history: DataFrame, newBars: DataFrame): DataFrame = {
    val w = Window.partitionBy(Frames.SymbolCol)
      .orderBy(col(Frames.TimeCol).desc, col(Frames.TieCol).desc)
    val tail = history
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= FiniteLookback)
      .drop("_rn")
    val ctx = tail.withColumn("_is_new", lit(false))
      .unionByName(newBars.withColumn("_is_new", lit(true)))
    finiteFeatures(ctx).filter(col("_is_new")).drop("_is_new")
  }

  /** The EWMA-family feature columns [[backfillEwma]] emits. */
  val EwmaFeatureCols: Seq[String] = Features.RsiCols ++ Features.MacdCols

  /** One-row-per-symbol terminal EWMA state after `history` — the carry a
    * daily append job persists so [[backfillEwma]] never rereads the
    * archive. Columns: symbol, last_close (boundary delta), n (row count =
    * non-null observation count for every adjust=true recursion here:
    * closes are non-null and macd is defined from the first row),
    * avg_gain/avg_loss (adjust=false terminals; null until the first
    * delta), ema_fast/ema_slow/ema_sig (adjust=true terminals). */
  def ewmaState(history: DataFrame): DataFrame = {
    val wDesc = Window.partitionBy(Frames.SymbolCol)
      .orderBy(col(Frames.TimeCol).desc, col(Frames.TieCol).desc)
    Features.withHelpers(history)
      .select(col(Frames.SymbolCol), col("close").as("last_close"),
        row_number().over(Frames.bySymbol).cast("long").as("n"),
        col("_avg_gain").as("avg_gain"), col("_avg_loss").as("avg_loss"),
        col("_ema_f").as("ema_fast"), col("_ema_s").as("ema_slow"),
        col("macd_signal").as("ema_sig"), row_number().over(wDesc).as("_rnd"))
      .filter(col("_rnd") === 1).drop("_rnd")
  }

  /** RSI/MACD family for `newBars` only, continuing the recurrences from
    * [[ewmaState]] at O(new) — same append-only contract as
    * [[backfillFinite]]. Emits newBars' columns + [[EwmaFeatureCols]].
    * Symbols absent from `state` start fresh (identical to a full
    * recompute that begins at their first new bar). rsi is bit-equal to
    * the full recompute; the macd family is fp-equal (see the object
    * scaladoc). State is one row per symbol — broadcast. */
  def backfillEwma(state: DataFrame, newBars: DataFrame): DataFrame = {
    import graft.expr.Ewma.ewmaSpanOver
    val outCols = newBars.columns.toSeq
    val w = Frames.bySymbol
    val part = Seq(col(Frames.SymbolCol))
    val ordSeq = Seq(col("_seq"))
    def ewmSeq(c: org.apache.spark.sql.Column, span: Double, adjust: Boolean) =
      ewmaSpanOver(c, span, adjust, part, ordSeq)
    val st = state.select(col(Frames.SymbolCol), col("last_close").as("_lc"),
      col("n").as("_n"), col("avg_gain").as("_ag"), col("avg_loss").as("_al"),
      col("ema_fast").as("_ef"), col("ema_slow").as("_es"),
      col("ema_sig").as("_eg"))
    val joined = newBars.join(broadcast(st), Seq(Frames.SymbolCol), "left")
    // boundary delta: the first new row diffs against the state's last
    // close (null when the symbol has no history — RSI then seeds at the
    // second new row, exactly like the full recompute)
    val delta = col("close") -
      coalesce(lag(col("close"), 1).over(w), col("_lc"))
    val newRows = joined.select(col("*"),
      ((delta > 0).cast("double") * delta).as("_gain"),
      ((delta < 0).cast("double") * (-delta)).as("_loss"),
      row_number().over(w).cast("long").as("_seq"))
    // adjust=false continuation: re-enter the terminal means through the
    // Ewma seed branch via one synthetic _seq=0 row per started symbol
    // (gain/loss start together — both turn non-null at the first delta)
    val synth = st.filter(col("_ag").isNotNull)
      .select(col(Frames.SymbolCol), col("_ag").as("_gain"),
        col("_al").as("_loss"), lit(0L).as("_seq"))
    val ctx = newRows.unionByName(synth, allowMissingColumns = true)
    val s2 = ctx.select(col("*"),
      ewmSeq(col("_gain"), Params.RsiPeriod, adjust = false).as("_avg_gain"),
      ewmSeq(col("_loss"), Params.RsiPeriod, adjust = false).as("_avg_loss"),
      ewmSeq(col("close"), Params.MacdFast, adjust = true).as("_pf"),
      ewmSeq(col("close"), Params.MacdSlow, adjust = true).as("_ps"))
      .filter(col("_seq") > 0)
    // adjust=true continuation: y_{T+k} = ((1-α)^k·y_T·den_T + y'_k·den'_k)
    // / ((1-α)^k·den_T + den'_k), den m-term = (1-(1-α)^m)/α — exact factor
    // of the full recurrence; the synthetic row's null close is skipped by
    // the prime-side EWMA, so k = _seq counts only new observations
    def contAdj(sPrime: org.apache.spark.sql.Column,
        sT: org.apache.spark.sql.Column, span: Double) = {
      val a = 2.0 / (span + 1.0)
      def den(m: org.apache.spark.sql.Column) =
        (lit(1.0) - pow(lit(1.0 - a), m)) / lit(a)
      val decayK = pow(lit(1.0 - a), col("_seq").cast("double"))
      val denT = den(col("_n").cast("double"))
      val denP = den(col("_seq").cast("double"))
      when(sT.isNull, sPrime)
        .otherwise((decayK * sT * denT + sPrime * denP) /
          (decayK * denT + denP))
    }
    val s3 = s2.select(col("*"),
      (contAdj(col("_pf"), col("_ef"), Params.MacdFast) -
        contAdj(col("_ps"), col("_es"), Params.MacdSlow)).as("macd"))
    // second pass: signal EWMA over the (continued) macd series, then its
    // own continuation against the history's terminal signal state
    val rs = col("_avg_gain") / (col("_avg_loss") + 1e-10)
    val sig = contAdj(ewmSeq(col("macd"), Params.MacdSignal, adjust = true),
      col("_eg"), Params.MacdSignal)
    s3.select(col("*"),
        (lit(100) - lit(100) / (lit(1) + rs)).as("rsi"),
        sig.as("macd_signal"),
        (col("macd") - sig).as("macd_histogram"))
      .select((outCols ++ EwmaFeatureCols).map(col): _*)
  }
}
