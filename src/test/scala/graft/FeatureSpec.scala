package graft

import graft.features._
import org.apache.spark.sql.functions._

/** Invariant checks for the built-in-window feature operators
  * (SURVEY.md §5.2.3): null gating (Polars min_samples), band ordering,
  * sign agreement, target domain, split conservation. Property-style over
  * deterministic seeded samples (the scalatest/scalacheck bridge artifact is
  * not on the offline classpath).
  */
class FeatureSpec extends SparkSpec {

  private def samples(n: Int, len: Int): Seq[List[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(n)(List.fill(len)(1.0 + rnd.nextDouble() * 499.0))
  }

  private def forAll(gen: Seq[List[Double]])(body: List[Double] => Unit): Unit =
    gen.foreach(body)

  private def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body

  test("rolling features are null exactly until the window fills") {
    val df = Features.computeAllFeatures(barsOf((1 to 60).map(_.toDouble)))
    for (p <- Params.MomentumPeriods) {
      val sma = column(df, s"sma_$p")
      assert(sma.take(p - 1).forall(_.isEmpty), s"sma_$p should be null before row $p")
      assert(sma.drop(p - 1).forall(_.isDefined), s"sma_$p should be non-null from row $p")
      // lag-based features null for exactly the first p rows
      val ret = column(df, s"return_$p")
      assert(ret.take(p).forall(_.isEmpty) && ret.drop(p).forall(_.isDefined))
    }
    val v = Features.computeAllFeatures(barsOf((1 to 70).map(_.toDouble)))
    for (w <- Params.VolatilityWindows) {
      val vol = column(v, s"volatility_$w")
      // returns has a leading null → window fills one row later
      assert(vol.take(w).forall(_.isEmpty) && vol.drop(w).forall(_.isDefined))
    }
  }

  test("bollinger band ordering: lower <= middle <= upper, rsi in [0,100]") {
    forAll(samples(5, 70)) { cs =>
      whenever(cs.length >= 21) {
        val t = Features.computeAllFeatures(barsOf(cs))
        val rows = t.select("bb_lower", "bb_middle", "bb_upper", "rsi")
          .collect()
        rows.foreach { r =>
          if (!r.isNullAt(0)) {
            assert(r.getDouble(0) <= r.getDouble(1) + 1e-9)
            assert(r.getDouble(1) <= r.getDouble(2) + 1e-9)
          }
          if (!r.isNullAt(3)) {
            val rsi = r.getDouble(3)
            assert(rsi >= -1e-9 && rsi <= 100 + 1e-9)
          }
        }
      }
    }
  }

  test("return_p sign agrees with momentum_p sign") {
    forAll(samples(5, 70)) { cs =>
      whenever(cs.length >= 51) {
        val m = Features.computeAllFeatures(barsOf(cs))
        for (p <- Params.MomentumPeriods) {
          column(m, s"return_$p").zip(column(m, s"momentum_$p")).foreach {
            case (Some(r), Some(mo)) => assert(math.signum(r) == math.signum(mo) || mo == 0.0)
            case (a, b) => assert(a.isEmpty == b.isEmpty)
          }
        }
      }
    }
  }

  test("classification target is {0,1} and drops exactly the last row per symbol") {
    val df = Targets.withTarget(barsOf((1 to 30).map(_.toDouble)), targetType = "classification")
    assert(df.count() == 29)
    val vals = df.select("target").distinct().collect().map(_.getByte(0)).toSet
    assert(vals.subsetOf(Set(0: Byte, 1: Byte)))
  }

  test("temporal split preserves rows and is 80/20 by time order") {
    val split = graft.queries.Core.temporalSplit(spark, "/root/testdata/sf0.001")
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("train") + counts("test") == 1000)
    assert(counts("train") == 800)
  }

  test("feature pipeline composes to the reference's 49 features + target") {
    val out = Targets.withTarget(Features.computeAllFeatures(barsOf((1 to 80).map(_.toDouble))))
    val featureCols = out.columns.toSet --
      Set("symbol", "event_id", "datetime", "open", "high", "low", "close", "volume", "target")
    assert(featureCols == Features.FeatureCols.toSet)
    assert(Features.FeatureCols.length == 49)
  }

  test("ichimoku: midpoints from rolling extrema, spans lagged 26, nulls until frames fill") {
    // 100 bars so the 52-frame + 26-shift senkou_b goes non-null (i >= 77)
    val close = (1 to 100).map(i => 100.0 + 10 * math.sin(i / 5.0))
    val out = Market.withIchimoku(barsOf(close))
    val highs = close.map(_ * 1.01)
    val lows = close.map(_ * 0.99)
    def mid(n: Int, i: Int): Option[Double] =
      if (i < n - 1) None
      else Some((highs.slice(i - n + 1, i + 1).max +
        lows.slice(i - n + 1, i + 1).min) / 2)
    def cmp(got: Seq[Option[Double]], want: Int => Option[Double], tag: String): Unit =
      got.zipWithIndex.foreach { case (g, i) =>
        val w = want(i)
        assert(g.isDefined == w.isDefined, s"$tag null gate at $i: $g vs $w")
        g.zip(w).foreach { case (a, b) =>
          assert(math.abs(a - b) < 1e-9, s"$tag at $i: $a vs $b") }
      }
    cmp(column(out, "ichimoku_tenkan"), mid(9, _), "tenkan")
    cmp(column(out, "ichimoku_kijun"), mid(26, _), "kijun")
    cmp(column(out, "ichimoku_senkou_a"), i =>
      for (t <- mid(9, i - 26); k <- mid(26, i - 26)) yield (t + k) / 2,
      "senkou_a")
    cmp(column(out, "ichimoku_senkou_b"), i =>
      if (i - 26 < 0) None else mid(52, i - 26), "senkou_b")
  }

  test("chande CMO: bounded, saturates at ±100 on monotone series, gated") {
    val n = Params.ChandeWindow
    val up = Market.withChande(barsOf((1 to 40).map(_.toDouble)))
    val cmo = column(up, s"cmo_$n")
    // deltas start at row 1, gate needs n of them → null through index n
    assert(cmo.take(n).forall(_.isEmpty) && cmo.drop(n).forall(_.isDefined))
    cmo.flatten.foreach(v => assert(math.abs(v - 100.0) < 1e-9,
      s"monotone-up CMO should saturate at +100, got $v"))
    val rnd = new scala.util.Random(7)
    val mixed = Market.withChande(barsOf(Seq.fill(60)(50.0 + rnd.nextDouble() * 100)))
    column(mixed, s"cmo_$n").flatten.foreach(v =>
      assert(v >= -100.0 - 1e-9 && v <= 100.0 + 1e-9))
  }

  test("dpo: exactly -1.5 on a unit-slope linear series (n=20, shift=11)") {
    val n = Params.DpoWindow
    val df = Market.withDpo(barsOf((1 to 60).map(_.toDouble)))
    val dpo = column(df, s"dpo_$n")
    // SMA lags the line by (n-1)/2 = 9.5; displaced close lags by 11
    dpo.flatten.foreach(v => assert(math.abs(v - (-1.5)) < 1e-9))
    // SMA gate opens at index n−1 (that row completes the n-bar frame) and
    // dominates the shift-11 lag, so 60 − (n−1) rows carry a value
    assert(dpo.count(_.isDefined) == 60 - (n - 1))
  }

  test("elder ray: bull >= bear, both straddle zero around the EMA") {
    val rnd = new scala.util.Random(11)
    val df = Market.withElderRay(barsOf(Seq.fill(50)(100.0 + rnd.nextDouble() * 20)))
    val bull = column(df, "elder_bull").flatten
    val bear = column(df, "elder_bear").flatten
    assert(bull.length == 50 && bear.length == 50)
    bull.zip(bear).foreach { case (b, r) =>
      assert(b >= r - 1e-12, "high - ema must be >= low - ema") }
  }

  test("heikin ashi: seeded open, envelope ordering, recursive midpoint") {
    val close = Seq(10.0, 12.0, 11.0, 15.0, 14.0)
    val df = Market.withHeikinAshi(barsOf(close))
    val rows = df.orderBy("event_id")
      .select("open", "high", "low", "close", "ha_open", "ha_high", "ha_low", "ha_close")
      .collect()
    val first = rows.head
    assert(math.abs(first.getDouble(4) -
      (first.getDouble(0) + first.getDouble(3)) / 2) < 1e-12)
    rows.sliding(2).foreach { case Array(prev, cur) =>
      val want = (prev.getDouble(4) + prev.getDouble(7)) / 2
      assert(math.abs(cur.getDouble(4) - want) < 1e-9,
        "ha_open must be the midpoint of the previous HA candle")
    }
    rows.foreach { r =>
      assert(r.getDouble(5) >= math.max(r.getDouble(4), r.getDouble(7)) - 1e-12)
      assert(r.getDouble(6) <= math.min(r.getDouble(4), r.getDouble(7)) + 1e-12)
    }
  }

  test("supertrend: matches a straight-loop reference, flips regime, nulls through warmup") {
    val n = 5
    val m = 2.0
    // swinging series so both regimes and both ratchet branches fire
    val close = (0 until 60).map(i => 100.0 + 30 * math.sin(i / 4.0))
    val df = Market.withSupertrend(barsOf(close), n, m)
    val got: Seq[Option[(Double, Int)]] = df.orderBy("event_id")
      .select("supertrend", "st_trend").collect().toSeq
      .map(r => if (r.isNullAt(0)) None else Some((r.getDouble(0), r.getInt(1))))

    // straight-loop reference over the same barsOf columns
    val high = close.map(_ * 1.01)
    val low = close.map(_ * 0.99)
    val tr = close.indices.map { i =>
      if (i == 0) high(0) - low(0)
      else math.max(high(i) - low(i),
        math.max(math.abs(high(i) - close(i - 1)), math.abs(low(i) - close(i - 1))))
    }
    var fub = 0.0; var flb = 0.0; var trend = 0.0; var started = false
    val want = close.indices.map { i =>
      if (i < n - 1) None
      else {
        val atr = tr.slice(i - n + 1, i + 1).sum / n
        val hl2 = (high(i) + low(i)) / 2.0
        val (ub, lb) = (hl2 + m * atr, hl2 - m * atr)
        if (!started) { fub = ub; flb = lb; trend = 1.0; started = true }
        else {
          val pc = close(i - 1)
          val nfub = if (ub < fub || pc > fub) ub else fub
          val nflb = if (lb > flb || pc < flb) lb else flb
          trend =
            if (trend == 1.0) { if (close(i) < nflb) -1.0 else 1.0 }
            else { if (close(i) > nfub) 1.0 else -1.0 }
          fub = nfub; flb = nflb
        }
        Some((if (trend == 1.0) flb else fub, trend.toInt))
      }
    }
    got.zip(want).zipWithIndex.foreach {
      case ((None, None), _) => ()
      case ((Some((gv, gt)), Some((wv, wt))), i) =>
        assert(math.abs(gv - wv) < 1e-6 && gt == wt,
          s"row $i: got ($gv, $gt) want ($wv, $wt)")
      case ((g, w), i) => fail(s"row $i: null mismatch $g vs $w")
    }
    val trends = got.flatten.map(_._2)
    assert(trends.contains(1) && trends.contains(-1),
      "series must exercise both regimes")
  }

  test("awesome oscillator: matches brute SMA difference, null until slow window fills") {
    val rnd = new scala.util.Random(41)
    val close = (0 until 50).map(_ => 100.0 + rnd.nextDouble() * 10)
    val got: Seq[Option[Double]] = Market.withAwesome(barsOf(close))
      .orderBy("event_id").select("awesome").collect().toSeq
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    val mp = close.map(c => (c * 1.01 + c * 0.99) / 2.0)
    def sma(i: Int, w: Int): Option[Double] =
      if (i + 1 < w) None else Some(mp.slice(i - w + 1, i + 1).sum / w)
    close.indices.foreach { i =>
      (got(i), sma(i, 5).zip(sma(i, 34)).map { case (a, b) => a - b }) match {
        case (None, None) => ()
        case (Some(g), Some(w)) => assert(math.abs(g - w) < 1e-9, s"row $i")
        case (g, w) => fail(s"row $i: null mismatch $g vs $w")
      }
    }
    assert(got.take(33).forall(_.isEmpty) && got(33).nonEmpty,
      "first defined value lands exactly when the 34-window fills")
  }

  test("coppock: matches a straight-loop WMA-of-ROC-sum reference, warmup nulls") {
    val rnd = new scala.util.Random(31)
    val close = (0 until 60).map(_ => 100.0 + rnd.nextDouble() * 10)
    val got: Seq[Option[Double]] = Market.withCoppock(barsOf(close))
      .orderBy("event_id").select("coppock").collect().toSeq
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    val raw: Seq[Option[Double]] = close.indices.map { i =>
      if (i < 14) None
      else Some((close(i) / close(i - 14) - 1.0) * 100.0 +
        (close(i) / close(i - 11) - 1.0) * 100.0)
    }
    val want = close.indices.map { i =>
      val window = (i - 9 to i).filter(_ >= 0).flatMap(raw)
      if (i < 9 || window.length < 10) None
      else Some(window.zipWithIndex.map { case (v, j) => v * (j + 1) }.sum /
        (10 * 11 / 2.0))
    }
    got.zip(want).zipWithIndex.foreach {
      case ((None, None), _) => ()
      case ((Some(g), Some(w)), i) =>
        assert(math.abs(g - w) < 1e-9, s"row $i: got $g want $w")
      case ((g, w), i) => fail(s"row $i: null mismatch $g vs $w")
    }
    assert(got.flatten.nonEmpty)
  }

  test("alligator: matches straight-loop Wilder SMMAs with causal displacement") {
    val rnd = new scala.util.Random(23)
    val close = (0 until 60).map(_ => 100.0 + rnd.nextDouble() * 10)
    val df = Market.withAlligator(barsOf(close))
    val got = df.orderBy("event_id")
      .select("alligator_jaw", "alligator_teeth", "alligator_lips")
      .collect().toSeq.map(r => (0 to 2).map(i =>
        if (r.isNullAt(i)) None else Some(r.getDouble(i))))
    val mp = close.map(c => (c * 1.01 + c * 0.99) / 2.0)
    def smma(n: Int): Seq[Double] = {
      val a = 1.0 / n; val d = 1.0 - 1.0 / n
      mp.tail.scanLeft(mp.head)((prev, x) => prev * d + a * x)
    }
    val (j, t, l) = (smma(13), smma(8), smma(5))
    def shifted(xs: Seq[Double], s: Int, i: Int): Option[Double] =
      if (i < s) None else Some(xs(i - s))
    close.indices.foreach { i =>
      val want = Seq(shifted(j, 8, i), shifted(t, 5, i), shifted(l, 3, i))
      got(i).zip(want).foreach {
        case (Some(g), Some(w)) => assert(math.abs(g - w) < 1e-9, s"row $i")
        case (None, None) => ()
        case (g, w) => fail(s"row $i null mismatch: $g vs $w")
      }
    }
    // lips (fastest, least shifted) must hug the median price closest
    val last = close.length - 1
    val err = Seq(j(last - 8), t(last - 5), l(last - 3)).map(v => math.abs(v - mp(last)))
    assert(err.last <= err.head + 5.0, "sanity: lines stay in price range")
  }

  test("mass index: matches a straight-loop double-EMA reference, warmup nulls") {
    val rnd = new scala.util.Random(7)
    val close = (0 until 80).map(_ => 100.0 + rnd.nextDouble() * 20)
    val df = Market.withMassIndex(barsOf(close))
    val got: Seq[Option[Double]] = df.orderBy("event_id")
      .select("mass_index").collect().toSeq
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    // straight-loop reference: same barsOf columns, same adjust=true EMA
    val dn = 1.0 - 2.0 / (Market.MassSpan + 1)
    val rng = close.map(c => c * 1.01 - c * 0.99)
    def emaOf(xs: Seq[Double]): Seq[Double] = {
      var nf = 0.0; var dfa = 0.0
      xs.map { x => nf = nf * dn + x; dfa = dfa * dn + 1.0; nf / dfa }
    }
    val v1 = emaOf(rng)
    val v2 = emaOf(v1)
    val ratio = v1.zip(v2).map { case (a, b) => a / b }
    val cum = ratio.scanLeft(0.0)(_ + _).tail
    val want = close.indices.map { i =>
      if (i + 1 < Market.MassWindow) None
      else Some(cum(i) - (if (i >= Market.MassWindow) cum(i - Market.MassWindow) else 0.0))
    }
    got.zip(want).zipWithIndex.foreach {
      case ((None, None), _) => ()
      case ((Some(g), Some(w)), i) =>
        assert(math.abs(g - w) < 1e-9, s"row $i: got $g want $w")
      case ((g, w), i) => fail(s"row $i: null mismatch $g vs $w")
    }
    // a 25-sum of a ratio that hovers near 1 stays near 25
    val vals = got.flatten
    assert(vals.nonEmpty && vals.forall(v => v > 15.0 && v < 35.0))
  }

  test("kyle lambda: perfectly linear impact recovers the planted slope x 1e6") {
    val n = Market.KyleWindow
    // alternating +2/-2 closes, constant volume 100 (barsOf) ->
    // dp = ±2, sv = ±100, an exact line dp = 0.02·sv -> λ = 0.02·1e6
    val close = (0 until 50).map(i => 100.0 + (if (i % 2 == 0) 0.0 else 2.0))
    val df = Market.withKyleLambda(barsOf(close))
    val kyle = column(df, s"kyle_$n")
    assert(kyle.take(n).forall(_.isEmpty) && kyle.drop(n).forall(_.isDefined))
    kyle.flatten.foreach(v => assert(math.abs(v - 20000.0) < 1e-6,
      s"planted lambda 20000, got $v"))
  }

  test("temperatureSample: sqrt-share rates, clamped at 1, deterministic membership") {
    val s = spark
    import s.implicits._
    // source A: 4 docs x 4 tokens = 16; source B: 1 doc x 4 tokens = 4
    val docs = (Seq((1L, "a b c d", "A"), (2L, "a b c d", "A"),
      (3L, "a b c d", "A"), (4L, "a b c d", "A"), (5L, "a b c d", "B")))
      .toDF("doc_id", "text", "source")
    val out = graft.text.Corpus.temperatureSample(docs, budgetFrac = 0.5)
    val rates = out.select("source", "sample_rate").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val z = math.sqrt(16.0) + math.sqrt(4.0)
    // rate_i = min(1, 20·0.5·(√n_i/z)/n_i)
    rates.get("A").foreach(v =>
      assert(math.abs(v - 20.0 * 0.5 * (4.0 / z) / 16.0) < 1e-12))
    // B: 10·(2/6)/4 = 0.833..., small source upsampled above natural share
    rates.get("B").foreach(v =>
      assert(math.abs(v - 20.0 * 0.5 * (2.0 / z) / 4.0) < 1e-12))
    // membership is a pure hash predicate: re-running yields identical rows
    val twice = graft.text.Corpus.temperatureSample(docs, budgetFrac = 0.5)
    assert(out.collect().map(_.getLong(0)).sorted.sameElements(
      twice.collect().map(_.getLong(0)).sorted))
  }

  test("fisher: matches a straight-loop reference of the chained recursions") {
    val n = Market.FisherWindow
    val a = Market.FisherAlpha
    val close = (0 until 60).map(i => 100.0 + 15 * math.sin(i / 3.0))
    val got = column(Market.withFisher(barsOf(close)), "fisher")
    var v = 0.0; var fish = 0.0; var started = false
    val want = close.indices.map { i =>
      if (i < n - 1) None
      else {
        val w = close.slice(i - n + 1, i + 1)
        val (lo, hi) = (w.min, w.max)
        if (hi <= lo) if (started) Some(fish) else None
        else {
          val x = math.max(math.min((close(i) - lo) / (hi - lo) * 2.0 - 1.0,
            0.999), -0.999)
          v = if (!started) x else v * (1.0 - a) + a * x
          val z = math.log((1.0 + v) / (1.0 - v))
          fish = if (!started) z else fish * 0.5 + 0.5 * z
          started = true
          Some(fish)
        }
      }
    }
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g.isDefined == w.isDefined, s"null gate at $i: $g vs $w")
      g.zip(w).foreach { case (gv, wv) =>
        assert(math.abs(gv - wv) < 1e-9, s"fisher at $i: $gv vs $wv") }
    }
  }

  test("mlRoc: endpoints saturate, tpr/fpr nonincreasing in threshold") {
    val rows = graft.queries.Core.mlRoc(spark, "/root/testdata/sf0.001")
      .collect().sortBy(_.getLong(0))
    assert(rows.length == 11)
    assert(rows.head.getDouble(4) == 1.0 && rows.head.getDouble(5) == 1.0,
      "at threshold = lo every row passes")
    rows.sliding(2).foreach { case Array(p, c) =>
      assert(c.getDouble(4) <= p.getDouble(4) + 1e-12)
      assert(c.getDouble(5) <= p.getDouble(5) + 1e-12)
    }
  }

  test("ngramNovelty: first doc fully novel, duplicate fully stale, overlap fractional") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "a b c x"))
      .toDF("doc_id", "text")
    val got = graft.text.TextStats.ngramNovelty(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got(0) == ((2L, 2L, 1.0)))
    assert(got(1) == ((2L, 0L, 0.0)))
    assert(got(2) == ((2L, 1L, 0.5)))
  }

  test("psar: matches a straight-loop Wilder reference, flips both ways") {
    val (a0, inc, mx) = (Params.PsarAf0, Params.PsarInc, Params.PsarAfMax)
    val close = (0 until 60).map(i => 100.0 + 25 * math.sin(i / 5.0))
    val got = Market.withPsar(barsOf(close)).orderBy("event_id")
      .select("psar", "psar_trend").collect()
      .map(r => (r.getDouble(0), r.getInt(1)))
    val high = close.map(_ * 1.01)
    val low = close.map(_ * 0.99)
    var sar = 0.0; var ep = 0.0; var af = 0.0; var tr = 0.0
    val want = close.indices.map { i =>
      if (i == 0) { sar = low(0); ep = high(0); af = a0; tr = 1.0 }
      else {
        val sp = sar + af * (ep - sar)
        val flip = (tr == 1.0 && low(i) < sp) || (tr != 1.0 && high(i) > sp)
        val newext = (tr == 1.0 && high(i) > ep) || (tr != 1.0 && low(i) < ep)
        val nsar = if (flip) ep else sp
        val nep =
          if (flip) { if (tr == 1.0) low(i) else high(i) }
          else if (newext) { if (tr == 1.0) high(i) else low(i) }
          else ep
        val naf = if (flip) a0 else if (newext) math.min(af + inc, mx) else af
        val ntr = if (flip) { if (tr == 1.0) -1.0 else 1.0 } else tr
        sar = nsar; ep = nep; af = naf; tr = ntr
      }
      (sar, tr.toInt)
    }
    got.zip(want).zipWithIndex.foreach { case (((gv, gt), (wv, wt)), i) =>
      assert(math.abs(gv - wv) < 1e-9 && gt == wt,
        s"psar row $i: got ($gv, $gt) want ($wv, $wt)")
    }
    val trends = got.map(_._2)
    assert(trends.contains(1) && trends.contains(-1))
  }

  test("barsDollar: buckets partition ticks, OHLC consistent, volume conserved") {
    val rows = graft.queries.Core.barsDollar(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (h, l, o, c) = (r.getDouble(4), r.getDouble(5), r.getDouble(3), r.getDouble(6))
      assert(l <= h && o >= l - 1e-9 && o <= h + 1e-9 && c >= l - 1e-9 && c <= h + 1e-9)
    }
    val nTicks = rows.map(_.getLong(2)).sum
    val barCount = graft.queries.Core.bars(spark, "/root/testdata/sf0.001").count()
    assert(nTicks == barCount, "every tick lands in exactly one dollar bar")
  }

  test("cvPurged: roles partition rows; embargo brackets each test block; test blocks tile") {
    val k = Params.PurgedFolds
    val out = graft.queries.Core.cvPurged(spark, "/root/testdata/sf0.001")
      .collect().groupBy(_.getLong(0))
    assert(out.keySet == (1 to k).map(_.toLong).toSet)
    val n = out(1L).length
    // each fold labels every row exactly once
    out.values.foreach(rows => assert(rows.length == n))
    // test blocks across folds tile the row set exactly once
    val testTotal = out.values.map(_.count(_.getString(2) == "test")).sum
    assert(testTotal == n, s"test blocks must tile the $n rows, got $testTotal")
    // every fold has nonempty embargo (interior folds have two sides)
    out.values.foreach { rows =>
      assert(rows.exists(_.getString(2) == "embargo"))
      assert(rows.exists(_.getString(2) == "train"))
    }
  }

  test("pivot points: level ordering s2<=s1<=p<=r1<=r2, first day null") {
    val s = spark
    import s.implicits._
    // 3 days × 4 bars, day-spaced timestamps
    val df = (0 until 12).map { i =>
      ("A", i.toLong, 100.0 + i)
    }.toDF("symbol", "event_id", "close")
      .withColumn("datetime",
        timestamp_micros(col("event_id") * 21600000000L)) // 6h apart → 4/day
      .withColumn("open", col("close"))
      .withColumn("high", col("close") * 1.01)
      .withColumn("low", col("close") * 0.99)
      .withColumn("volume", lit(100.0))
    val out = Market.withPivotPoints(df).orderBy("event_id")
      .select("pivot", "pivot_r1", "pivot_s1", "pivot_r2", "pivot_s2")
      .collect()
    assert(out.take(4).forall(_.isNullAt(0)), "first day has no prior OHLC")
    out.drop(4).foreach { r =>
      val Seq(p, r1, s1, r2, s2) = (0 until 5).map(r.getDouble)
      assert(s2 <= s1 + 1e-9 && s1 <= p + 1e-9 &&
        p <= r1 + 1e-9 && r1 <= r2 + 1e-9)
    }
  }

  test("hull MA equals brute-force WMA composition on a random series") {
    val rnd = new scala.util.Random(7)
    val cs = IndexedSeq.fill(40)(50.0 + rnd.nextDouble() * 100.0)
    val df = Market.withHull(barsOf(cs))
    val gotRaw = column(df, "hma_raw")
    val got16 = column(df, "hma_16")
    def wma(xs: Int => Option[Double], i: Int, w: Int): Option[Double] = {
      if (i + 1 < w) None
      else {
        val win = (0 until w).map(j => xs(i - j)) // newest first, weight w−j
        if (win.exists(_.isEmpty)) None
        else Some(win.zipWithIndex.map { case (x, j) => (w - j) * x.get }.sum /
          (w * (w + 1) / 2.0))
      }
    }
    val braw = cs.indices.map { i =>
      (wma(j => Some(cs(j)), i, 8), wma(j => Some(cs(j)), i, 16)) match {
        case (Some(a), Some(b)) => Some(2 * a - b)
        case _ => None
      }
    }
    val b16 = cs.indices.map(i => wma(j => braw(j), i, 4))
    cs.indices.foreach { i =>
      assert(gotRaw(i).isDefined == braw(i).isDefined, s"raw presence @$i")
      assert(got16(i).isDefined == b16(i).isDefined, s"hma presence @$i")
      for (g <- gotRaw(i); w0 <- braw(i))
        assert(math.abs(g - w0) < 1e-6, s"raw @$i: $g vs $w0")
      for (g <- got16(i); w0 <- b16(i))
        assert(math.abs(g - w0) < 1e-6, s"hma @$i: $g vs $w0")
    }
  }

  test("CondProd NVI/PVI is bit-equal to the sequential straight loop") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(3L, 4L)) {
      val rnd = new scala.util.Random(seed)
      var c = 100.0
      val rows = (0 until 50).map { i =>
        c = math.max(1.0, c * (0.95 + rnd.nextDouble() * 0.1))
        ("S", i.toLong, c, (1 + rnd.nextInt(20)).toDouble)
      }
      val df = rows.toDF("symbol", "event_id", "close", "volume")
        .withColumn("datetime", timestamp_micros(col("event_id")))
      val got = Market.withVolumeIndex(df).orderBy("event_id")
        .select("nvi", "pvi").collect()
        .map(r => (r.getDouble(0), r.getDouble(1)))
      var nvi = 1000.0
      var pvi = 1000.0
      val want = rows.zipWithIndex.map { case ((_, _, cl, vol), i) =>
        if (i > 0) {
          val pc = rows(i - 1)._3
          val pv = rows(i - 1)._4
          val gf = 1.0 + (cl - pc) / pc
          if (vol < pv) nvi *= gf
          if (vol > pv) pvi *= gf
        }
        (nvi, pvi)
      }
      assert(got.toSeq == want, s"seed $seed: CondProd vs straight loop")
    }
  }

  test("ultimate oscillator: null until bar 28, then within [0, 100]") {
    val uo = column(
      Market.withUltimate(barsOf((1 to 60).map(i => 100.0 + (i % 7)))),
      "ultimate_osc")
    assert(uo.take(27).forall(_.isEmpty))
    assert(uo.drop(27).forall(_.isDefined))
    uo.flatten.foreach(v => assert(v >= -1e-9 && v <= 100 + 1e-9))
  }

  test("KST warmup: kst null until bar 45, signal until bar 53") {
    val k = Market.withKst(
      barsOf((1 to 60).map(i => 100.0 + 3 * math.sin(i / 3.0))))
    val kst = column(k, "kst")
    val sig = column(k, "kst_signal")
    // slowest leg: ROC(30) from idx 30, its 15-bar SMA from idx 44
    assert(kst.take(44).forall(_.isEmpty) && kst.drop(44).forall(_.isDefined))
    assert(sig.take(52).forall(_.isEmpty) && sig.drop(52).forall(_.isDefined))
  }

  test("ZigZag state machine is bit-equal to the sequential straight loop") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(5L, 6L)) {
      val rnd = new scala.util.Random(seed)
      var c = 100.0
      val closes = (0 until 80).map { _ =>
        c = math.max(1.0, c * (0.9 + rnd.nextDouble() * 0.2)); c
      }
      val got = Market.withZigzag(barsOf(closes)).orderBy("event_id")
        .select("zz_dir", "zz_extreme", "zz_reversal").collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getInt(2)))
      val lo = 1.0 - Market.ZigzagTheta
      val hi = 1.0 + Market.ZigzagTheta
      var dir = 1.0; var ext = closes.head
      val want = closes.zipWithIndex.map { case (x, i) =>
        var flip = 0
        if (i > 0) {
          if (dir == 1.0) {
            if (x < ext * lo) { dir = -1.0; ext = x; flip = 1 }
            else ext = math.max(ext, x)
          } else {
            if (x > ext * hi) { dir = 1.0; ext = x; flip = 1 }
            else ext = math.min(ext, x)
          }
        }
        (dir.toInt, ext, flip)
      }
      assert(got.toSeq == want, s"seed $seed: zigzag vs straight loop")
    }
  }

  test("chandelier exits replay the rollmax/rollmin ± k·ATR straight loop") {
    val s = spark
    import s.implicits._
    val closes = (1 to 60).map(i => 100.0 + 8 * math.sin(i / 3.0))
    val got = Market.withChandelier(barsOf(closes)).orderBy("event_id")
      .select("chandelier_long", "chandelier_short").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Double]),
        Option(r.get(1)).map(_.asInstanceOf[Double])))
    val hs = closes.map(_ * 1.01); val ls = closes.map(_ * 0.99)
    val trs = closes.indices.map { i =>
      if (i == 0) hs(0) - ls(0)
      else math.max(hs(i) - ls(i),
        math.max(math.abs(hs(i) - closes(i - 1)), math.abs(ls(i) - closes(i - 1))))
    }
    closes.indices.foreach { i =>
      if (i < 21) assert(got(i)._1.isEmpty && got(i)._2.isEmpty, s"row $i warmup")
      else {
        val atr = trs.slice(i - 21, i + 1).sum / 22.0
        val hh = hs.slice(i - 21, i + 1).max
        val ll = ls.slice(i - 21, i + 1).min
        assert(math.abs(got(i)._1.get - (hh - 3.0 * atr)) < 1e-9, s"row $i long")
        assert(math.abs(got(i)._2.get - (ll + 3.0 * atr)) < 1e-9, s"row $i short")
      }
    }
  }

  test("candle patterns: planted OHLC bars fire each flag exactly where constructed") {
    val s = spark
    import s.implicits._
    // (open, high, low, close) per bar:
    // 0: plain green bar — nothing
    // 1: doji (body 0.1 on a 2.0 range), long shadows both sides
    // 2: red bar (sets up the bull engulf)
    // 3: bullish engulfing of bar 2 (green body covering 2's body)
    // 4: green bar (sets up the bear engulf)
    // 5: bearish engulfing of bar 4 + hammer shape (long lower shadow)
    val bars = Seq(
      (0L, 100.0, 101.0, 99.5, 100.8),
      (1L, 100.0, 101.0, 99.0, 100.1),
      (2L, 100.5, 100.6, 99.8, 100.2),
      (3L, 99.9, 101.2, 99.8, 100.7),
      (4L, 100.0, 100.5, 99.9, 100.4),
      (5L, 100.5, 100.9, 98.8, 99.95))
      .map { case (i, o, h, l, c) => ("A", i, o, h, l, c) }
      .toDF("symbol", "event_id", "open", "high", "low", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
      .withColumn("volume", lit(100.0))
    val got = graft.features.Market.withCandles(bars).orderBy("event_id")
      .select("candle_doji", "candle_hammer", "candle_engulf_bull",
        "candle_engulf_bear")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(got(0) == ((0, 0, 0, 0)))
    assert(got(1)._1 == 1, "bar 1 must flag doji")
    assert(got(3) == ((0, 0, 1, 0)), s"bar 3 must flag bull engulf: ${got(3)}")
    assert(got(5)._2 == 1 && got(5)._4 == 1,
      s"bar 5 must flag hammer + bear engulf: ${got(5)}")
    assert(got.map(_._3).sum == 1 && got.map(_._4).sum == 1)
  }

  test("StochRSI: bounded 0..100, pins both extremes, %K equals the 3-bar mean") {
    val s = spark
    import s.implicits._
    val closes = (1 to 120).map(i => 100.0 + 10 * math.sin(i / 4.0) + i * 0.05)
    val rows = Market.withStochRsi(barsOf(closes)).orderBy("event_id")
      .select("stochrsi", "stochrsi_k").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Double]),
        Option(r.get(1)).map(_.asInstanceOf[Double])))
    val st = rows.map(_._1)
    assert(st.flatten.forall(v => v >= 0.0 && v <= 100.0))
    // the defining property: whenever rsi IS its own window extreme the
    // oscillator pins — a sin wave must touch both rails repeatedly
    assert(st.flatten.count(_ == 0.0) >= 3, "no 0-rail pins on a sin wave")
    assert(st.flatten.count(_ == 100.0) >= 3, "no 100-rail pins")
    // %K = mean of the last 3 defined stochrsi values (cum−lag association
    // differs from the naive sum by float noise only)
    rows.indices.drop(2).foreach { i =>
      val last3 = Seq(st(i - 2), st(i - 1), st(i))
      (rows(i)._2, last3) match {
        case (Some(k), Seq(Some(x), Some(y), Some(z))) =>
          assert(math.abs(k - (x + y + z) / 3.0) < 1e-9, s"row $i")
        case (k, _) => assert(k.isEmpty, s"row $i: %K defined over a null gap")
      }
    }
  }

  test("DEMA/TEMA are bit-equal to the chained-EMA straight loop; lag cancels on a linear ramp") {
    val s = spark
    import s.implicits._
    val closes = (1 to 200).map(i => 100.0 + 0.5 * i)
    val got = Market.withDemaTema(barsOf(closes)).orderBy("event_id")
      .select("dema_20", "tema_20").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    // straight-loop replay of the three adjust=true EMA chains
    val dn = 1.0 - 2.0 / 21.0
    def chain(xs: Seq[Double]): Seq[Double] = {
      var nf = 0.0; var df = 0.0
      xs.map { x => nf = nf * dn + x; df = df * dn + 1.0; nf / df }
    }
    val e1 = chain(closes); val e2 = chain(e1); val e3 = chain(e2)
    closes.indices.foreach { i =>
      assert(got(i)._1 == 2.0 * e1(i) - e2(i), s"dema row $i")
      assert(got(i)._2 == 3.0 * e1(i) - 3.0 * e2(i) + e3(i), s"tema row $i")
    }
    // lag cancellation: on a ramp the raw EMA trails by ~slope·(span−1)/2
    // (≈ 4.75 here) while DEMA/TEMA converge onto the price
    val last = closes.last
    assert(math.abs(e1.last - last) > 4.0, "raw EMA must lag the ramp")
    assert(math.abs(got.last._1 - last) < 0.3, s"DEMA lag ${got.last._1 - last}")
    assert(math.abs(got.last._2 - last) < 0.05, s"TEMA lag ${got.last._2 - last}")
  }

  test("Renko state machine is bit-equal to the sequential straight loop; multi-brick moves conserved") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(7L, 8L)) {
      val rnd = new scala.util.Random(seed)
      var c = 100.0
      val closes = (0 until 80).map { _ =>
        // ±12 swings around a drifting level — multi-brick (k ≥ 2) moves
        // occur at brick 5.0, exercising the k-at-once branch
        c = math.max(1.0, c + (rnd.nextDouble() - 0.48) * 24.0); c
      }
      val got = Market.withRenko(barsOf(closes)).orderBy("event_id")
        .select("renko_anchor", "renko_dir", "renko_bricks", "renko_count")
        .collect()
        .map(r => (r.getDouble(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      val b = Market.RenkoBrick
      var anchor = closes.head; var dir = 0.0; var cum = 0L
      val want = closes.zipWithIndex.map { case (x, i) =>
        var k = 0L
        if (i > 0) {
          val kUp = math.floor((x - anchor) / b)
          val kDn = math.floor((anchor - x) / b)
          if (kUp >= 1.0) { anchor += kUp * b; dir = 1.0; k = kUp.toLong }
          else if (kDn >= 1.0) { anchor -= kDn * b; dir = -1.0; k = kDn.toLong }
        }
        cum += k
        (anchor, dir.toInt, k, cum)
      }
      assert(got.toSeq == want, s"seed $seed: renko vs straight loop")
      // conservation: total bricks ≈ net + churn; at least the net move
      assert(got.last._4 >= (math.abs(closes.last - closes.head) / b).toLong - 1)
    }
  }
}
