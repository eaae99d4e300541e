package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming surface (north star: the reference's batched REST
  * polling re-imagined as real streams — SURVEY.md §1.5/§2.6). The same
  * transforms as the batch path, over `readStream`:
  *
  *  - file-source ingestion of event parquet with the ns-timestamp
  *    normalization the batch source applies;
  *  - watermarked tumbling-window aggregation (late data dropped after 1h);
  *  - the bar recurrences (RSI, CUSUM, burst, Holt, GARCH, supertrend,
  *    PSAR) as per-key state, all through the one transformWithState
  *    processor [[OrderedFold]], so each agrees with its batch window
  *    expression row for row;
  *  - stateful gap-sessionization via flatMapGroupsWithState (one twin
  *    on event-time timeouts, one in Update mode).
  *
  * Streaming output is checked by StreamingSpec against the equivalent batch
  * queries (same totals), not by the DuckDB oracle.
  */
object Streams {

  /** Raw events schema as the parquet file source needs it, derived from the
    * files actually on disk at stream-build time. A file-stream source
    * cannot schema-dispatch per batch like Bars.readEvents, but the driver
    * has shipped `ts` in two physical forms across testdata regenerations
    * (INT64 TIMESTAMP(NANOS) → LongType under `GraftSession`'s nanosAsLong;
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ), so hardcoding either breaks
    * silently at the next regeneration. One batch footer read resolves the
    * observed form; [[readEventStreamFrom]] then decodes it with the batch
    * ingest's own [[graft.source.Bars.decodeTs]], so every downstream
    * window/watermark sees one canonical session-zoned TimestampType. Any
    * third physical form fails fast here rather than mid-stream. */
  def eventsSchemaOf(spark: SparkSession, dir: String): StructType = {
    val s = spark.read.parquet(dir).schema
    s("ts").dataType match {
      case LongType | TimestampNTZType | TimestampType => s
      case other => throw new IllegalStateException(
        s"events ts has unsupported physical type $other in $dir; " +
          "expected INT64 TIMESTAMP(NANOS), TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }

  /** Spark's file stream source requires a directory; the shared corpus is a
    * single parquet file. Stage a per-sfDir symlink directory under /tmp
    * (idempotent, read-only view of the shared data). `copies > 1` links the
    * same file several times — a deterministic duplicated source for
    * exercising streaming dedup. */
  private def stagedEventsDir(sfDir: String, copies: Int = 1): String = {
    val target = java.nio.file.Paths.get(sfDir, "events.parquet").toAbsolutePath
    val dir = java.nio.file.Paths.get("/tmp",
      s"graft-stream-${Integer.toHexString(target.toString.hashCode)}-x$copies")
    java.nio.file.Files.createDirectories(dir)
    (0 until copies).foreach { i =>
      val link = dir.resolve(s"events_$i.parquet")
      // NOFOLLOW: a dangling link (target regenerated elsewhere) must be
      // detected and replaced, not silently treated as absent
      if (java.nio.file.Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS) &&
          !java.nio.file.Files.exists(link)) {
        java.nio.file.Files.delete(link)
      }
      if (!java.nio.file.Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        try java.nio.file.Files.createSymbolicLink(link, target)
        catch { case _: java.nio.file.FileAlreadyExistsException => () } // concurrent creator won
      }
    }
    dir.toString
  }

  def readEventStream(spark: SparkSession, sfDir: String, copies: Int = 1): DataFrame =
    readEventStreamFrom(spark, stagedEventsDir(sfDir, copies))

  /** Stream raw event parquet from an arbitrary directory, with optional
    * per-trigger file throttling (maxFilesPerTrigger splits a replay into
    * genuine multiple micro-batches — how the specs exercise cross-batch
    * state carry). */
  def readEventStreamFrom(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = eventsSchemaOf(spark, dir)
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(m => reader.option("maxFilesPerTrigger", m))
    graft.source.Bars.decodeTs(reader.parquet(dir))
  }

  /** Watermarked tumbling counts — the streaming twin of
    * TimeWindows.tumbling. */
  def tumblingCounts(events: DataFrame, width: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"),
        col("value_sum"))

  /** Watermarked sliding-window counts — the streaming twin of
    * TimeWindows.sliding (each event lands in width/slide windows). */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
      slide: String = "15 minutes", watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"),
        col("value_sum"))

  /** Streaming HLL register maintenance — the incremental form of
    * [[graft.analytics.Sketches.hllRegisters]]: per (day-window, bucket)
    * the running max(rho) is the COMPLETE sketch state for distinct-user
    * counting, m=256 longs per day no matter how many events stream
    * through. Max is the canonical streaming-mergeable aggregate (idempotent
    * + commutative + associative), so the maintained registers are
    * bit-identical to the batch pass — StreamingSpec proves it and feeds
    * them through [[graft.analytics.Sketches.hllEstimate]]. At 100 TB/day
    * this is THE way to track distinct users: the watermark bounds state to
    * the open day windows, and closed days' registers land downstream ready
    * to union into weekly/monthly counts ([[graft.queries]]
    * `events_hll_sliding`). */
  def hllDailyRegisters(events: DataFrame,
      watermark: String = "1 hour"): DataFrame = {
    import graft.analytics.Sketches
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"),
        Sketches.hllBucket(col("user_id")).as("bucket"))
      .agg(max(Sketches.hllRho(col("user_id"))).as("rho"))
      .select(col("w.start").cast("date").as("day"), col("bucket"), col("rho"))
  }

  /** Streaming quantile-sketch maintenance — the incremental form of
    * [[graft.analytics.Sketches.qsketchCounts]]: per (day-window, bucket)
    * a running COUNT is the complete rank-sketch state (≤ a few hundred
    * longs per day at any volume). Count is streaming-mergeable (integer
    * addition), so the maintained table is bit-identical to the batch
    * sketch — StreamingSpec proves it register-for-register and feeds the
    * merged table through qsketchQuantiles for estimate parity. The
    * watermark bounds state to open day windows; closed days' buckets land
    * downstream ready to merge into weekly/monthly quantiles without
    * rescanning — the rank companion of [[hllDailyRegisters]]. */
  def qsketchDailyBuckets(events: DataFrame,
      watermark: String = "1 hour"): DataFrame = {
    import graft.analytics.Sketches
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"),
        Sketches.qsketchBucket(Sketches.qsketchMicros(col("value"))).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").cast("date").as("day"), col("bucket"), col("cnt"))
  }

  /** Streaming exact dedup on the event key: state is bounded by the
    * watermark (a duplicate arriving later than the watermark delay is
    * passed through — the at-scale tradeoff that keeps the dedup state from
    * growing without bound). */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
  case class SessionSummary(user_id: Long, n_sessions: Long, n_events: Long)
  /** [[sessionCounts]] state: pending spans + counters for the spans
    * already folded once the watermark finalized them. */
  case class SessCountState(spans: Seq[SessSpan], nSessions: Long, nEvents: Long)
  /** One CLOSED session — the row shape of the batch
    * [[graft.analytics.Relational.sessionize]] twin. */
  case class SessionRow(user_id: Long, session_idx: Long, n_events: Long,
    session_start: java.sql.Timestamp, session_end: java.sql.Timestamp)
  /** One not-yet-emitted session span: [startUs, endUs] with its event
    * count. Spans in a user's state are disjoint and pairwise more than
    * the gap apart. */
  case class SessSpan(startUs: Long, endUs: Long, n: Long)

  /** Merge event time `t` into a gap-disjoint span list: joins (and may
    * BRIDGE — at most two, since spans sit > gap apart) every span within
    * the gap, else opens a new one. Returns the list re-sorted by start.
    * This is the order-insensitive core both sessionizers share: feeding
    * events in ANY arrival order yields the same spans as the batch
    * twin's global sort. */
  private[graft] def mergeSpan(spans: List[SessSpan], t: Long, gapUs: Long): List[SessSpan] = {
    val (touch, rest) = spans.partition(s =>
      t >= s.startUs - gapUs && t <= s.endUs + gapUs)
    val merged =
      if (touch.isEmpty) SessSpan(t, t, 1L)
      else SessSpan(
        math.min(touch.map(_.startUs).min, t),
        math.max(touch.map(_.endUs).max, t),
        touch.map(_.n).sum + 1L)
    (merged :: rest).sortBy(_.startUs)
  }
  /** Per-user sessionization state: the pending (unemitted) session spans
    * plus the session counter, which survives emissions so `session_idx`
    * keeps counting exactly like the batch cumulative-sum index. */
  case class SessSpansState(spans: Seq[SessSpan], idx: Long)

  /** Stream-stream interval self-join: each purchase matched to the same
    * user's error events in the preceding hour. Both sides carry watermarks
    * and the join predicate bounds event-time distance, so Spark can expire
    * join state — the state-bounding discipline a 100 TB stream needs
    * (unbounded stream-stream joins grow state forever). */
  def purchaseErrorJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "2 hours")
    purchases.join(errors,
      col("user_id") === col("e_user") &&
      col("e_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
      col("e_ts") <= col("p_ts"))
      .select(col("user_id"), col("purchase_id"), col("error_id"))
  }

  /** LEFT OUTER stream-stream interval join: like [[purchaseErrorJoin]],
    * but purchases with NO error in their preceding hour still emit — with
    * a null error_id — once the event-time watermark passes their match
    * window and the engine can prove no late error can arrive. That
    * unmatched-emission-on-watermark is the semantics a production funnel
    * needs ("purchases without a prior error" can't be answered by an inner
    * join), and it's exactly the state-expiry discipline that bounds join
    * state at 100 TB: every buffered left row leaves state when it emits.
    * Note the outer flush lags one micro-batch behind the watermark advance
    * (expiry uses the previous batch's watermark — asserted in the spec). */
  def purchaseErrorJoinOuter(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "2 hours")
    purchases.join(errors,
        col("user_id") === col("e_user") &&
        col("e_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("e_ts") <= col("p_ts"), "leftOuter")
      .select(col("user_id"), col("purchase_id"), col("error_id"))
  }

  /** Event time in µs at full precision: `getTime` alone truncates to ms,
    * which would disagree with the batch twins' unix_micros order and gap
    * arithmetic. */
  private def micros(ts: java.sql.Timestamp): Long =
    (ts.getTime / 1000L) * 1000000L + ts.getNanos / 1000L

  /** A stream row carrying the (ts, event_id) order every batch twin's
    * window sorts by. */
  private[streaming] trait Stamped { def ts: java.sql.Timestamp; def event_id: Long }

  /** The one stateful operator behind every streaming recurrence twin, a
    * per-key ordered fold: sort the key's micro-batch rows by (event µs,
    * event_id), fold them through `step` from the stored state, and store
    * the last state — one state read and one write per key per micro-batch.
    * It runs after another stateful operator in the same query
    * ([[pipelineDedupRsi]] runs it after the watermark dedup) and keeps its
    * state in RocksDB.
    *
    * Ordering contract: state carries across batches, assuming batch
    * boundaries respect event order (true for file sources replaying history
    * in order). A production variant facing out-of-order arrivals would
    * buffer rows in state until the event-time watermark closes, then fold
    * them in order. */
  private[streaming] class OrderedFold[K, R <: Stamped, S, O](zero: S, stateEncoder: Encoder[S],
      step: (K, S, R) => (S, Option[O])) extends StatefulProcessor[K, R, O] {
    @transient private var state: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[S]("fold", stateEncoder, TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[R],
        timers: TimerValues): Iterator[O] = {
      var s = Option(state.get()).getOrElse(zero)
      val out = rows.toSeq.sortBy(r => (micros(r.ts), r.event_id)).flatMap { r =>
        val (next, o) = step(key, s, r)
        s = next
        o
      }
      state.update(s)
      out.iterator
    }
  }

  private def orderedFold[K, R <: Stamped, S: Encoder, O: Encoder](
      rows: KeyValueGroupedDataset[K, R], zero: S)(
      step: (K, S, R) => (S, Option[O])): Dataset[O] =
    rows.transformWithState(new OrderedFold(zero, implicitly[Encoder[S]], step),
      TimeMode.None(), OutputMode.Append())

  case class BarTick(symbol: String, event_id: Long, ts: java.sql.Timestamp,
    close: Double) extends Stamped
  case class RsiPoint(symbol: String, event_id: Long, rsi: Option[Double])
  /** Per-symbol RSI recurrence state: previous close + the adjust=false
    * EWMA accumulators for average gain/loss (`seen` mirrors the window
    * expression's den==0 "no observation yet" flag). */
  case class RsiState(hasPrev: Boolean, prevClose: Double,
    gSeen: Boolean, avgGain: Double, lSeen: Boolean, avgLoss: Double)

  /** Streaming RSI: the batch pipeline's diff → gain/loss →
    * EWMA(adjust=false) → rs → rsi recurrence (graft.features.Features,
    * reference src/features/engineering.py:36-47) carried as per-symbol
    * state — bit-identical arithmetic to the Catalyst Ewma window
    * expression, so streaming and batch agree exactly, row for row.
    * Ordering contract as [[OrderedFold]]. */
  def streamingRsi(ticks: Dataset[BarTick],
      period: Int = graft.Params.RsiPeriod): Dataset[RsiPoint] = {
    import ticks.sparkSession.implicits._
    val alpha = 2.0 / (period + 1.0)
    orderedFold(ticks.groupByKey(_.symbol),
        RsiState(hasPrev = false, 0.0, gSeen = false, 0.0, lSeen = false, 0.0)) {
      (sym, st, e) =>
        if (!st.hasPrev)
          // first tick: delta is null -> gain/loss null -> EWMA state
          // untouched -> rsi null (matches the leading-null window row)
          (st.copy(hasPrev = true, prevClose = e.close),
            Some(RsiPoint(sym, e.event_id, None)))
        else {
          val delta = e.close - st.prevClose
          val gain = if (delta > 0) delta else 0.0
          val loss = if (delta < 0) -delta else 0.0
          val ag = if (!st.gSeen) gain else st.avgGain * (1.0 - alpha) + alpha * gain
          val al = if (!st.lSeen) loss else st.avgLoss * (1.0 - alpha) + alpha * loss
          val rs = ag / (al + 1e-10)
          (RsiState(hasPrev = true, e.close, gSeen = true, ag, lSeen = true, al),
            Some(RsiPoint(sym, e.event_id, Some(100.0 - 100.0 / (1.0 + rs)))))
        }
    }
  }

  case class CusumPoint(symbol: String, event_id: Long,
    cusum_up: Double, cusum_down: Double, alarm_up: Boolean, alarm_down: Boolean)
  /** Per-symbol CUSUM recurrence state: previous close + both drift
    * accumulators. */
  case class CusumState(hasPrev: Boolean, prevClose: Double,
    sUp: Double, sDown: Double)

  /** Streaming two-sided CUSUM drift monitor: the batch `window_cusum`
    * recursion (graft.expr.Cusum over 1-bar close diffs) carried as
    * per-symbol state — max(0, S + (x − k)) in the exact association order
    * of the Catalyst expression, so streaming and batch agree bit-for-bit
    * row for row. The first tick per symbol emits nothing (the batch query
    * filters the null-diff row), matching the batch row set exactly.
    * Ordering contract as [[OrderedFold]]. */
  def streamingCusum(ticks: Dataset[BarTick],
      drift: Double = graft.Params.CusumDrift,
      threshold: Double = graft.Params.CusumThreshold): Dataset[CusumPoint] = {
    import ticks.sparkSession.implicits._
    orderedFold(ticks.groupByKey(_.symbol), CusumState(hasPrev = false, 0.0, 0.0, 0.0)) {
      (sym, st, e) =>
        if (!st.hasPrev) (st.copy(hasPrev = true, prevClose = e.close), None)
        else {
          val x = e.close - st.prevClose
          val su = math.max(0.0, st.sUp + (x - drift))
          val sd = math.max(0.0, st.sDown + (-x - drift))
          (CusumState(hasPrev = true, e.close, su, sd),
            Some(CusumPoint(sym, e.event_id, su, sd, su > threshold, sd > threshold)))
        }
    }
  }

  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      lam: Double) extends Stamped
  case class BurstPoint(user_id: Long, event_id: Long,
      cost0: Double, cost1: Double, burst: Boolean)
  case class BurstState(hasPrev: Boolean, prevUs: Long, c0: Double, c1: Double)

  /** Per-user MLE baseline rates for [[streamingBurst]] — the batch-trained
    * side of the stream-static pattern (exactly the rate table
    * `Analytics.eventsBurst` derives): (n−1)/span in events-per-µs, users
    * with < 3 events or zero span excluded. */
  def burstRates(events: DataFrame): DataFrame =
    events.select(col("user_id"), unix_micros(col("ts")).as("_tus"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("_n"),
        (max(col("_tus")) - min(col("_tus"))).as("_span"))
      .filter(col("_n") >= 3 && col("_span") > 0)
      .select(col("user_id"),
        ((col("_n") - 1).cast("double") / col("_span").cast("double"))
          .as("lam"))

  /** Stateful streaming Kleinberg burst detection — the batch
    * [[graft.expr.Burst2]] recursion carried as per-user state (prev
    * event-time µs + the two normalized Viterbi costs), with the baseline
    * rate table joined stream-static (rates are trained offline, detection
    * runs online — the deployment shape). Identical JVM double arithmetic
    * in the exact association order of the Catalyst expression, so
    * streaming and batch agree bit-for-bit row for row; each user's first
    * event emits nothing (the batch row is NULL there). Ordering contract
    * as [[OrderedFold]]. */
  def streamingBurst(events: DataFrame, rates: DataFrame,
      ratio: Double = graft.Params.BurstRateRatio,
      gamma: Double = graft.Params.BurstGamma): Dataset[BurstPoint] = {
    import events.sparkSession.implicits._
    val lnS = math.log(ratio)
    val src = events.select(col("user_id"), col("ts"), col("event_id"))
      .join(rates, "user_id")
      .select(col("user_id"), col("ts"), col("event_id"), col("lam"))
      .as[UserEvent]
    orderedFold(src.groupByKey(_.user_id), BurstState(hasPrev = false, 0L, 0.0, gamma)) {
      (uid, st, e) =>
        val us = micros(e.ts)
        if (!st.hasPrev) (st.copy(hasPrev = true, prevUs = us), None)
        else {
          val x = (us - st.prevUs).toDouble
          val t0 = math.min(st.c0, st.c1 + gamma) + e.lam * x
          val t1 = math.min(st.c1, st.c0 + gamma) +
            (ratio * e.lam * x - lnS)
          val m = math.min(t0, t1)
          (BurstState(hasPrev = true, us, t0 - m, t1 - m),
            Some(BurstPoint(uid, e.event_id, t0 - m, t1 - m, (t1 - m) < (t0 - m))))
        }
    }
  }

  case class HoltPoint(symbol: String, event_id: Long,
      level: Double, trend: Double)
  case class HoltState(started: Boolean, l: Double, b: Double)

  /** Stateful streaming Holt smoothing — the same level/trend recurrence as
    * the batch [[graft.expr.Holt]] window function (identical JVM double
    * arithmetic in the identical order, so streaming == batch bit-for-bit),
    * carried across micro-batches in two doubles of state per symbol. The
    * live forecaster a monitoring pipeline runs against the same definition
    * its backfill used. Ordering contract as [[OrderedFold]]. */
  def streamingHolt(ticks: Dataset[BarTick],
      alpha: Double = graft.Params.HoltAlpha,
      beta: Double = graft.Params.HoltBeta): Dataset[HoltPoint] = {
    import ticks.sparkSession.implicits._
    orderedFold(ticks.groupByKey(_.symbol), HoltState(started = false, 0.0, 0.0)) {
      (sym, st, e) =>
        val next =
          if (!st.started) HoltState(started = true, e.close, 0.0)
          else {
            val nl = alpha * e.close + (1.0 - alpha) * (st.l + st.b)
            val nb = beta * (nl - st.l) + (1.0 - beta) * st.b
            HoltState(started = true, nl, nb)
          }
        (next, Some(HoltPoint(sym, e.event_id, next.l, next.b)))
    }
  }

  case class GarchPoint(symbol: String, event_id: Long,
      garch_var: Option[Double], garch_vol: Option[Double])
  /** Per-symbol GARCH state: previous close, the previous bar's return
    * (the recursion input is r²_{t−1}), and the conditional variance. */
  case class GarchState(hasPrev: Boolean, prevClose: Double,
      hasPrevRet: Boolean, prevRet: Double, v: Double)

  /** Stateful streaming GARCH(1,1) — the live twin of the batch
    * `feat_garch` ([[graft.expr.LinearRec]]): the identical
    * ω + α·r²_{t−1} + β·v association, the identical zero-prev-close
    * return gate (a gated-out return holds the state and nulls the
    * output, exactly like the batch's null x), seeded at the
    * unconditional variance. Every double comes from the same JVM ops in
    * the same order, so streaming == batch row for row. Ordering contract
    * as [[OrderedFold]]. */
  def streamingGarch(ticks: Dataset[BarTick],
      omega: Double = graft.features.Market.GarchOmega,
      alpha: Double = graft.features.Market.GarchAlpha,
      beta: Double = graft.features.Market.GarchBeta): Dataset[GarchPoint] = {
    import ticks.sparkSession.implicits._
    val base = omega / (1.0 - alpha - beta)
    orderedFold(ticks.groupByKey(_.symbol),
        GarchState(hasPrev = false, 0.0, hasPrevRet = false, 0.0, base)) {
      (sym, st, e) =>
        val v =
          if (st.hasPrevRet) {
            val x = st.prevRet * st.prevRet
            Some(omega + alpha * x + beta * st.v)
          } else None
        val ret =
          if (st.hasPrev && st.prevClose != 0.0)
            Some((e.close - st.prevClose) / st.prevClose)
          else None
        (GarchState(hasPrev = true, e.close, ret.isDefined, ret.getOrElse(0.0),
            v.getOrElse(st.v)),
          Some(GarchPoint(sym, e.event_id, v, v.map(math.sqrt))))
    }
  }

  case class SupertrendPoint(symbol: String, event_id: Long,
      supertrend: Option[Double], st_trend: Option[Int])
  /** Per-symbol supertrend state: previous close, the running TR cumsum
    * plus the FIFO of the last n+1 cum values (so the rolling ATR is the
    * SAME cum − lagged-cum subtraction the batch cum−lag identity
    * computes — a ring-buffer re-sum would associate differently and
    * drift off batch), and the band/regime recursion state. */
  case class SupertrendState(hasPrev: Boolean, prevClose: Double,
      cum: Double, cums: Vector[Double],
      started: Boolean, fub: Double, flb: Double, trend: Double)

  /** Stateful streaming supertrend — the live twin of the batch
    * `feat_supertrend` ([[graft.expr.SupertrendLine]]/Dir): open/high/low
    * re-derived exactly like the bars adapter (open = previous close), the
    * SMA-ATR via the batch's cum−lag subtraction, then the identical
    * band-ratchet + regime recursion — every double computed by the same
    * JVM ops in the same order, so streaming == batch row for row.
    * Emits a point per tick (None through the ATR warmup, matching the
    * batch nulls). Ordering contract as [[OrderedFold]]. */
  def streamingSupertrend(ticks: Dataset[BarTick],
      n: Int = graft.Params.SupertrendAtr,
      m: Double = graft.Params.SupertrendMult): Dataset[SupertrendPoint] = {
    import ticks.sparkSession.implicits._
    orderedFold(ticks.groupByKey(_.symbol), SupertrendState(
        hasPrev = false, 0.0, 0.0, Vector.empty, started = false, 0.0, 0.0, 0.0)) {
      (sym, st, e) =>
        val open = if (st.hasPrev) st.prevClose else e.close
        val high = math.max(open, e.close)
        val low = math.min(open, e.close)
        val tr =
          if (!st.hasPrev) high - low
          else math.max(high - low, math.max(
            math.abs(high - st.prevClose), math.abs(low - st.prevClose)))
        val cum = st.cum + tr
        val cums = st.cums :+ cum
        // cum_{t−n} exists once the FIFO holds n+1 entries; until row n
        // the batch lag coalesces to 0.0
        val (base, trimmed) =
          if (cums.length == n + 1) (cums.head, cums.tail)
          else (0.0, cums)
        // (final upper band, final lower band, regime) once the ATR is ready
        val bands =
          if (cums.length < n) None
          else {
            val atr = (cum - base) / n
            val hl2 = (high + low) / 2.0
            val ub = hl2 + m * atr
            val lb = hl2 - m * atr
            if (!st.started) Some((ub, lb, 1.0))
            else {
              val pc = st.prevClose
              val nfub = if (ub < st.fub || pc > st.fub) ub else st.fub
              val nflb = if (lb > st.flb || pc < st.flb) lb else st.flb
              val ntrend =
                if (st.trend == 1.0) { if (e.close < nflb) -1.0 else 1.0 }
                else { if (e.close > nfub) 1.0 else -1.0 }
              Some((nfub, nflb, ntrend))
            }
          }
        val (fub, flb, trend) = bands.getOrElse((st.fub, st.flb, st.trend))
        (SupertrendState(hasPrev = true, e.close, cum, trimmed,
            started = st.started || bands.isDefined, fub, flb, trend),
          Some(SupertrendPoint(sym, e.event_id,
            bands.map(_ => if (trend == 1.0) flb else fub),
            bands.map(_ => trend.toInt))))
    }
  }

  case class PsarPoint(symbol: String, event_id: Long,
      psar: Double, psar_trend: Int)
  case class PsarState(hasPrev: Boolean, prevClose: Double,
      started: Boolean, sar: Double, ep: Double, af: Double, tr: Double)

  /** Stateful streaming parabolic SAR — the live twin of `feat_psar`
    * ([[graft.expr.PsarBase]]): open/high/low re-derived like the bars
    * adapter, then the identical Wilder recursion per symbol (flip checked
    * before new-extreme, same JVM doubles in the same order), so streaming
    * == batch row for row from the very first tick (PSAR has no warmup).
    * Ordering contract as [[OrderedFold]]. */
  def streamingPsar(ticks: Dataset[BarTick],
      af0: Double = graft.Params.PsarAf0,
      inc: Double = graft.Params.PsarInc,
      afMax: Double = graft.Params.PsarAfMax): Dataset[PsarPoint] = {
    import ticks.sparkSession.implicits._
    orderedFold(ticks.groupByKey(_.symbol), PsarState(
        hasPrev = false, 0.0, started = false, 0.0, 0.0, 0.0, 0.0)) {
      (sym, st, e) =>
        val open = if (st.hasPrev) st.prevClose else e.close
        val h = math.max(open, e.close)
        val l = math.min(open, e.close)
        val next =
          if (!st.started) st.copy(started = true, sar = l, ep = h, af = af0, tr = 1.0)
          else {
            val sp = st.sar + st.af * (st.ep - st.sar)
            val flip = (st.tr == 1.0 && l < sp) || (st.tr != 1.0 && h > sp)
            val newext = (st.tr == 1.0 && h > st.ep) ||
              (st.tr != 1.0 && l < st.ep)
            val nsar = if (flip) st.ep else sp
            val nep =
              if (flip) { if (st.tr == 1.0) l else h }
              else if (newext) { if (st.tr == 1.0) h else l }
              else st.ep
            val naf = if (flip) af0
              else if (newext) math.min(st.af + inc, afMax) else st.af
            val ntr = if (flip) { if (st.tr == 1.0) -1.0 else 1.0 } else st.tr
            st.copy(sar = nsar, ep = nep, af = naf, tr = ntr)
          }
        (next.copy(hasPrev = true, prevClose = e.close),
          Some(PsarPoint(sym, e.event_id, next.sar, next.tr.toInt)))
    }
  }

  /** Deterministic symbol → sector dimension: the small static side of the
    * stream-static enrichment join (a real deployment reads this from a
    * dimension table; the derivation is fixed so batch and streaming specs
    * build the identical frame). */
  def sectorDim(spark: SparkSession, k: Int = graft.Params.Symbols): DataFrame =
    spark.range(k).select(col("id").cast("string").as("symbol"),
      concat(lit("sector_"), pmod(col("id"), lit(3))).as("sector"))

  /** Stream-static enrichment join: every event joined to a static dimension
    * (symbol → sector) — the standard shape for decorating a 100 TB event
    * stream with reference data. The static side is explicitly `broadcast`:
    * each micro-batch plans a broadcast hash join, so the unbounded stream
    * side never shuffles and no join state accumulates (unlike
    * stream-stream joins, the static side needs no watermark). Works
    * unchanged on a batch frame — StreamingSpec asserts stream == batch
    * row-for-row. */
  def enrichEvents(events: DataFrame, dim: DataFrame,
      k: Int = graft.Params.Symbols): DataFrame =
    events.withColumn("symbol", (col("user_id") % k).cast("string"))
      .join(broadcast(dim), Seq("symbol"), "left")
      .select(col("event_id"), col("symbol"), col("sector"),
        col("event_type"), col("value"))

  /** Exactly-once parquet sink via foreachBatch: each micro-batch lands in
    * its own `_batch_id` partition under DYNAMIC partition overwrite, so a
    * replayed batch (post-failure re-delivery) REWRITES its partition
    * instead of appending duplicates — idempotence makes the sink
    * exactly-once on top of the checkpoint's at-least-once redelivery, the
    * standard Structured Streaming sink recipe for stores without
    * transactional streaming writers. StreamingSpec restarts the query from
    * the same checkpoint and asserts zero duplication. */
  def sinkParquet(df: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.withColumn("_batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("_batch_id")
          .parquet(outDir)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Reference histogram for the drift monitor: per (event_type, bin), the
    * expected value-distribution rate, computed ONCE from a static
    * historical frame (same floor-binning as the batch driftPsi). The
    * result is bin-cardinality sized — small enough to sit in every
    * executor for the life of the stream. */
  def referenceRates(events: DataFrame, binWidth: Double = 100.0): DataFrame = {
    val counts = events
      .select(col("event_type"),
        floor(col("value") / binWidth).cast("long").as("bin"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("event_type").agg(sum(col("n")).as("total"))
    counts.join(totals, Seq("event_type"))
      .select(col("event_type"), col("bin"),
        (col("n").cast("double") / col("total")).as("p"))
  }

  /** PSI of one (micro-)batch's value distribution against a reference —
    * identical arithmetic to the batch [[graft.queries.Analytics.driftPsi]]
    * ((p−q)·ln(p/q) over common bins, one-sided bins counted separately).
    * Both join sides are bin-cardinality aggregates, so the join is tiny
    * regardless of the batch's row count. */
  def psiAgainst(batch: DataFrame, reference: DataFrame,
      binWidth: Double = 100.0): DataFrame = {
    val counts = batch
      .select(col("event_type"),
        floor(col("value") / binWidth).cast("long").as("bin"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("event_type").agg(sum(col("n")).as("total"))
    val q = counts.join(totals, Seq("event_type"))
      .select(col("event_type"), col("bin"),
        (col("n").cast("double") / col("total")).as("q"))
    reference.join(q, Seq("event_type", "bin"), "full_outer")
      .groupBy("event_type")
      .agg(
        sum(when(col("p").isNotNull && col("q").isNotNull,
          (col("p") - col("q")) * log(col("p") / col("q")))).as("psi"),
        count(when(col("p").isNotNull && col("q").isNotNull, 1))
          .as("n_bins_common"),
        count(when(col("p").isNull || col("q").isNull, 1))
          .as("n_bins_one_sided"))
  }

  /** Streaming drift monitor: every micro-batch scores its own value
    * distribution against the static reference histogram and appends one
    * row per event_type to the monitoring table — the alerting signal a
    * training-data pipeline watches as data arrives (PSI > 0.2 ⇒
    * investigate before the next training run). foreachBatch + dynamic
    * partition overwrite per `_batch_id`, so a re-delivered batch after a
    * failure REWRITES its own partition — the same idempotent exactly-once
    * recipe as [[sinkParquet]]. */
  def driftMonitor(events: DataFrame, reference: DataFrame, outDir: String,
      checkpointDir: String, binWidth: Double = 100.0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        psiAgainst(batch.toDF(), reference, binWidth)
          .withColumn("_batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("_batch_id")
          .parquet(outDir)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Per-micro-batch late-data accounting — the observability the watermark
    * discipline needs: every stateful operator silently expires data older
    * than the watermark, and without a counter a production ingest cannot
    * distinguish "no late data" from "late data quietly dropped". Each
    * batch appends one row (on-time / late-accepted / late-dropped counts +
    * the watermark used), where the watermark replicates the engine's
    * global-watermark advance exactly: max event time over all PREVIOUS
    * micro-batches minus `delayUs`, never the current batch's own rows.
    *
    *  - on-time:       ts >= previous max event time (stream is in order)
    *  - late-accepted: watermark <= ts < previous max (out of order but
    *                   inside the allowed lateness — a watermarked agg
    *                   still folds it in)
    *  - late-dropped:  ts < watermark (a watermarked stateful op would
    *                   expire it)
    *
    * Exactly-once across restarts: the (batch_id, prev-max-before,
    * max-after) ledger lives beside the checkpoint, so a re-delivered
    * batch re-reads the PRE-batch ledger state and recomputes identical
    * counts into its own dynamically-overwritten `_batch_id` partition —
    * the [[sinkParquet]] recipe applied to the accounting itself. Driver
    * state is three longs; the per-batch cost is one count aggregate. */
  def lateDataMonitor(events: DataFrame, outDir: String, checkpointDir: String,
      delayUs: Long = 3600L * 1000000L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val ledger = new org.apache.hadoop.fs.Path(checkpointDir, "graft_late_ledger")
        val fs = ledger.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val (lastId, pBefore, mAfter) =
          if (fs.exists(ledger)) {
            val in = fs.open(ledger)
            val line = scala.io.Source.fromInputStream(in).mkString.trim
            in.close()
            val a = line.split(" ")
            (a(0).toLong, a(1).toLong, a(2).toLong)
          } else (-1L, Long.MinValue, Long.MinValue)
        // replayed batch: classify against the PRE-batch state, not the
        // state its own first delivery already advanced
        val prevMax = if (batchId == lastId) pBefore else mAfter
        val wm = if (prevMax == Long.MinValue) Long.MinValue else prevMax - delayUs
        val (onTime, lateAcc, lateDrop) =
          if (prevMax == Long.MinValue)
            (lit(true), lit(false), lit(false))
          else
            (col("tus") >= lit(prevMax),
              col("tus") < lit(prevMax) && col("tus") >= lit(wm),
              col("tus") < lit(wm))
        val s = batch.toDF().select(unix_micros(col("ts")).as("tus"))
          .agg(count(lit(1)).as("n"),
            sum(when(onTime, 1L).otherwise(0L)).as("on_t"),
            sum(when(lateAcc, 1L).otherwise(0L)).as("acc"),
            sum(when(lateDrop, 1L).otherwise(0L)).as("drp"),
            coalesce(max(col("tus")), lit(Long.MinValue)).as("mx"))
          .head()
        val newMax = math.max(prevMax, s.getLong(4))
        import spark.implicits._
        Seq((batchId, s.getLong(0), coalesce0(s, 1), coalesce0(s, 2),
            coalesce0(s, 3), wm))
          .toDF("_batch_id", "n_rows", "n_on_time", "n_late_accepted",
            "n_late_dropped", "watermark_us")
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("_batch_id")
          .parquet(outDir)
        val o = fs.create(ledger, true)
        o.write(s"$batchId $prevMax $newMax".getBytes("UTF-8"))
        o.close()
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** sum(when(...)) over an empty batch is null — account it as 0. */
  private def coalesce0(r: org.apache.spark.sql.Row, i: Int): Long =
    if (r.isNullAt(i)) 0L else r.getLong(i)

  /** CDC upsert sink: merge every micro-batch into the parquet table at
    * `tableDir` with newest-wins semantics ([[graft.source.Lake.upsert]])
    * and swap it in atomically ([[graft.source.Lake.replace]]). Because the
    * merge is version-keyed, a re-delivered batch after a failure re-merges
    * to the IDENTICAL state — idempotence over the checkpoint's
    * at-least-once redelivery, with no ordering dependence between batches
    * (the max version wins regardless of arrival order).
    *
    * Scale note: this rewrites the whole table per trigger — correct for
    * dimension-sized tables (the usual CDC target). For fact-sized targets
    * compose the partition primitives instead: day-partition the table
    * ([[graft.source.Storage.savePartitionedByDay]]), restrict the merge to
    * the partitions the batch touches, and [[graft.source.Lake.compact]]
    * on a schedule. */
  def sinkUpsert(df: DataFrame, tableDir: String, checkpointDir: String,
      keys: Seq[String], versionCol: String, tieBreak: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val dest = new org.apache.hadoop.fs.Path(tableDir)
        val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val base =
          if (fs.exists(dest)) spark.read.parquet(tableDir)
          else batch.toDF().limit(0)
        graft.source.Lake.replace(
          graft.source.Lake.upsert(base, batch.toDF(), keys, versionCol, tieBreak),
          tableDir)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming exact dedup at INGESTION time — the production shape of the
    * batch `dedup_exact_norm`: an LLM-corpus pipeline dedups documents as
    * they arrive, not in a nightly rescan. Each document is reduced to the
    * md5 of its C4-normalized text ([[graft.text.Dedup.normText]] — the
    * identical normalizer the batch query and the oracle replay) and
    * `dropDuplicatesWithinWatermark` keeps one representative per digest,
    * with state BOUNDED by the watermark horizon: a digest's state is
    * evicted once the watermark passes its event time + delay, so the
    * operator runs forever on an unbounded stream (the batch operator's
    * unbounded exact dedup is the `watermark → ∞` limit). The documented
    * consequence: a duplicate arriving AFTER its original's state expired
    * re-emits — within-horizon dedup is the contract, and StreamingSpec
    * pins both sides of it (in-horizon duplicates dropped exactly;
    * past-horizon repeat re-emitted).
    *
    * Input must carry an event-time `ts` column (arrival/crawl time).
    * Output is the input row set minus within-horizon duplicates, plus the
    * digest as `norm_md5`. */
  def streamingDedupExact(docs: DataFrame,
      watermark: String = "1 hour"): DataFrame =
    docs.withWatermark("ts", watermark)
      .withColumn("norm_md5", md5(graft.text.Dedup.normText))
      .dropDuplicatesWithinWatermark("norm_md5")

  /** Streaming decontamination — the stream-static twin of the batch
    * [[graft.text.Dedup.crossCorpusPairs]], in the train-offline /
    * detect-online shape of [[streamingBurst]]: the benchmark/eval corpus
    * is banded ONCE offline ([[graft.text.Dedup.bandPrepared]], a static
    * frame), and each arriving training document bands itself per-row
    * (narrow MinHash-signature expression — no state, no shuffle on the
    * stream side) and equi-joins the eval band index; band-collided pairs
    * verify with the exact per-pair shingle intersection and emit
    * (train_id, eval_id, jaccard) for every pair at or above `threshold`.
    *
    * Exactly-once pair emission WITHOUT streaming-side distinct (which
    * would need watermark state): a pair sharing k > 1 bands would emit k
    * times from the plain equi-join, so each match keeps only its FIRST
    * shared band — band b survives iff no band b' < b also matches, a
    * per-row array filter over the two carried band-value arrays. The
    * emitted pair set is therefore exactly the batch candidate set (>= 1
    * shared band, each pair once), and the verification arithmetic is the
    * batch expressions verbatim — StreamingSpec asserts row equality
    * against `crossCorpusPairs` over the same corpora.
    *
    * Scale shape: the eval index is the SMALL side (benchmarks are MBs
    * against a 100 TB train stream) — broadcast, so the stream never
    * shuffles; per-document work is O(len + matches). Append mode,
    * stateless, no watermark required. */
  def streamingDecontamPairs(train: DataFrame, evalDocs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    import graft.text.Dedup
    val ev = Dedup.bandPrepared(evalDocs).select(
      col("doc_id").as("eval_id"), col("sh").as("sh_e"),
      col("n_sh").as("n_e"), col("bands").as("bands_e"))
    val evBand = ev.select(col("eval_id"), col("sh_e"), col("n_e"),
      col("bands_e"), posexplode(col("bands_e")).as(Seq("band_idx", "band_val")))
    val tr = Dedup.bandPrepared(train).select(
      col("doc_id").as("train_id"), col("sh").as("sh_t"),
      col("n_sh").as("n_t"), col("bands").as("bands_t"))
    val trBand = tr.select(col("train_id"), col("sh_t"), col("n_t"),
      col("bands_t"), posexplode(col("bands_t")).as(Seq("band_idx", "band_val")))
    trBand.join(broadcast(evBand), Seq("band_idx", "band_val"))
      // first-shared-band gate: drop the match if any earlier band also
      // collides (that occurrence already emitted the pair)
      .filter(expr("band_idx = 0 OR size(filter(sequence(0, band_idx - 1), " +
        "i -> bands_t[CAST(i AS INT)] = bands_e[CAST(i AS INT)])) = 0"))
      .select(col("train_id"), col("eval_id"),
        size(array_intersect(col("sh_t"), col("sh_e"))).cast("long").as("n_inter"),
        col("n_t"), col("n_e"))
      .filter(col("n_inter") >= 1)
      .select(col("train_id"), col("eval_id"),
        (col("n_inter").cast("double") /
          (col("n_t") + col("n_e") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** events stream → per-symbol bar ticks (the narrow, streamable slice of
    * the bars adapter: symbol fold + close; the lag-based open/high/low are
    * batch-only). */
  def tickStream(events: DataFrame, k: Int = graft.Params.Symbols): Dataset[BarTick] = {
    import events.sparkSession.implicits._
    events.select((col("user_id") % k).cast("string").as("symbol"),
      col("event_id"), col("ts"), col("value").as("close")).as[BarTick]
  }

  /** Streaming twin of the batch [[graft.analytics.Relational.sessionize]]:
    * per user, gap-split sessions emitted as CLOSED rows in Append mode.
    *
    * State is the user's PENDING SESSION SPANS (disjoint, pairwise more
    * than the gap apart) plus the session counter. Each event merges into
    * the span set: it joins (and may BRIDGE) every span within the gap of
    * it, or opens a new span. A span is emitted only once the WATERMARK
    * passes its end + gap — at that point no admissible event can extend
    * or bridge it, so the emission is final; before that point, nothing is
    * emitted, because a within-watermark straggler may legally arrive
    * out-of-order across micro-batches and extend a span backward, sit
    * inside it, or merge two spans into one (an eager flush-on-successor —
    * this function's previous design — breaks exactly there: it freezes a
    * session the batch twin would still grow). Emission order is span
    * order, so `session_idx` matches the batch cumulative-sum index row
    * for row. Span count per user is bounded by the watermark horizon
    * divided by the gap; the counter survives emissions — at 100 TB TTL
    * it with a second timeout horizon if the user universe is unbounded. */
  def streamingSessionize(events: DataFrame, gapMinutes: Int = 30,
      watermark: String = "1 hour"): Dataset[SessionRow] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    events.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), col("event_id")).as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessSpansState, SessionRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, it, state: GroupState[SessSpansState]) =>
          def toTs(us: Long): java.sql.Timestamp = {
            val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
            t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
            t
          }
          val st = state.getOption.getOrElse(SessSpansState(Nil, 0L))
          var spans = st.spans.toList
          it.foreach(e => spans = mergeSpan(spans, micros(e.ts), gapUs))
          // a span is final once the watermark REACHES the first
          // millisecond no admissible event can extend it from:
          // safeAt = floorDiv(end+gap, 1000) + 1. Spark admits only rows
          // with event-time-ms ≥ watermark, and extending span s needs
          // ts_us ≤ end+gap i.e. ts_ms ≤ safeAt−1 < wmMs — so emitting at
          // safeAt ≤ wmMs (not the former strict <, which cost one extra
          // watermark advance of boundary latency on a quiescing stream)
          // is still final. Spans are start-sorted and disjoint, so ends
          // are sorted too and the emitted set is always the oldest
          // prefix.
          val wmMs = state.getCurrentWatermarkMs()
          def safeAt(s: SessSpan): Long = Math.floorDiv(s.endUs + gapUs, 1000L) + 1L
          val (safe, pending) = spans.partition(s => safeAt(s) <= wmMs)
          state.update(SessSpansState(pending, st.idx + safe.size))
          pending.headOption.foreach { oldest =>
            // timeout fires once wm > ts, so ts = safeAt−1 fires exactly
            // when wm reaches safeAt — one advance, matching the emission
            // rule. The set timestamp must still sit past the current
            // watermark, hence the wmMs+1 floor.
            state.setTimeoutTimestamp(math.max(safeAt(oldest) - 1L, wmMs + 1L))
          }
          safe.sortBy(_.startUs).iterator.zipWithIndex.map { case (s, i) =>
            SessionRow(uid, st.idx + 1L + i, s.n, toTs(s.startUs), toTs(s.endUs))
          }
      }
  }

  /** Stateful gap-sessionization: per user, cumulative session/event
    * counts split on >30 min gaps, exact under ANY within-watermark
    * arrival order (the span-merge core is order-insensitive, so no
    * per-batch sort is needed and cross-batch stragglers — including ones
    * that bridge two provisional sessions — land exactly as the batch
    * twin's global sort would). Beyond-watermark stragglers are DROPPED
    * by hand inside the group function (NoTimeout means Spark does not
    * pre-drop them the way it does for streamingSessionize's
    * EventTimeTimeout; without the filter a too-late event would re-open
    * a span already folded into the counters and over-count), so both
    * functions see the identical admitted-row set. Watermark-final spans
    * fold into counters, bounding state by the watermark horizon.
    * [[streamingSessionize]] is the per-session variant: event-time
    * timeout emits each closed session incrementally. */
  def sessionCounts(events: DataFrame, gapMinutes: Int = 30,
      watermark: String = "1 hour"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    events.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), col("event_id")).as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessCountState, SessionSummary](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[SessCountState]) =>
          var st = state.getOption.getOrElse(SessCountState(Nil, 0L, 0L))
          var spans = st.spans.toList
          // Spark pre-drops beyond-watermark input ONLY under
          // EventTimeTimeout; with NoTimeout a straggler older than the
          // watermark still reaches this function AFTER its span was
          // folded into the counters, re-opening a phantom span and
          // over-counting. Apply the identical drop rule (event-time-ms
          // below the watermark) by hand so the admit rule matches the
          // fold rule — same admitted-row set as streamingSessionize.
          val wmMs = state.getCurrentWatermarkMs()
          it.filter(e => Math.floorDiv(micros(e.ts), 1000L) >= wmMs)
            .foreach(e => spans = mergeSpan(spans, micros(e.ts), gapUs))
          // fold watermark-final spans into the flushed counters so state
          // stays bounded by the watermark horizon, exactly like
          // streamingSessionize's emission rule (safeAt ≤ wm: extension
          // needs ts_ms ≤ safeAt−1 < wm, which the drop rule excludes)
          val (safe, pending) = spans.partition(s =>
            Math.floorDiv(s.endUs + gapUs, 1000L) + 1L <= wmMs)
          st = SessCountState(pending,
            st.nSessions + safe.size, st.nEvents + safe.map(_.n).sum)
          state.update(st)
          // totals INCLUDE the pending spans — the summary is the exact
          // batch count at this point of the stream, not just the flushed
          Iterator(SessionSummary(uid,
            st.nSessions + pending.size, st.nEvents + pending.map(_.n).sum))
      }
  }

  /** End-to-end streaming ingestion pipeline — the north star (Structured
    * Streaming ingestion + DataFrame transformations) composed in ONE
    * query: ingest → within-watermark exact dedup (redelivered ticks
    * dropped while their original's state lives, the
    * [[streamingDedupExact]] contract) → per-symbol RSI recurrence
    * ([[streamingRsi]], an [[OrderedFold]] on transformWithState, in the
    * same query after the dedup) → caller sinks with
    * [[sinkUpsert]] for idempotent CDC merge. Input: (symbol, event_id,
    * ts, close) rows with event-time `ts`.
    *
    * Scale shape: the dedup state is bounded by the watermark horizon; the
    * RSI state is O(1) per symbol on RocksDB; the only shuffles are the
    * dedup's digest exchange and the groupByKey(symbol) exchange — both
    * would hash-partition across a 1000-executor cluster with no global
    * ordering requirement (per-symbol order is restored inside the
    * fold per micro-batch). */
  def pipelineDedupRsi(raw: DataFrame, watermark: String = "1 hour"): DataFrame = {
    import raw.sparkSession.implicits._
    val deduped = raw
      .withWatermark("ts", watermark)
      .withColumn("norm_md5",
        md5(concat_ws(":", col("symbol"), col("event_id"), col("close"))))
      .dropDuplicatesWithinWatermark("norm_md5")
    streamingRsi(deduped.select(col("symbol"), col("event_id"), col("ts"), col("close"))
      .as[BarTick]).toDF()
  }
}
