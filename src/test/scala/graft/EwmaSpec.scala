package graft

import graft.expr.Ewma
import graft.features.Features
import org.apache.spark.sql.functions._

/** Golden-vector checks for the custom Ewma window expression and the
  * RSI/MACD composites built on it. Vectors computed with pandas
  * `Series.ewm(span, adjust).mean()`, which shares Polars' ewm_mean
  * semantics for leading-null series — the only null shape the reference
  * pipeline produces (reference: src/features/engineering.py:36-57).
  */
class EwmaSpec extends SparkSpec {

  private val close = Seq(100.0, 101.5, 99.8, 102.3, 103.1, 102.0, 104.5, 104.5,
    103.2, 105.0, 106.1, 104.8, 107.2, 108.0, 106.5, 109.3, 110.0, 108.7, 111.2, 112.5)

  private lazy val tech = Features.computeAllFeatures(barsOf(close))

  test("ewma adjust=false matches pandas (RSI avg-gain, leading null skipped)") {
    val w = graft.features.Frames.bySymbol
    val delta = col("close") - lag(col("close"), 1).over(w)
    val staged = barsOf(close).select(col("*"),
      ((delta > 0).cast("double") * delta).as("gain"))
    val out = staged.select(col("symbol"), col("event_id"),
      Ewma.ewmaSpanOver(col("gain"), 14, adjust = false,
        Seq(col("symbol")), Seq(col("datetime"), col("event_id"))).as("avg_gain"))
    assertSeq(column(out, "avg_gain"), Seq(Double.NaN, 1.5, 1.3, 1.46,
      1.3719999999999997, 1.1890666666666665, 1.3638577777777776, 1.182010074074074,
      1.0244087308641976, 1.1278209000823043, 1.1241114467379962, 0.9742299205062634,
      1.1643325977720957, 1.1157549180691493, 0.9669875956599294, 1.2113892495719385,
      1.1432040162956805, 0.9907768141229231, 1.1920065722398667, 1.2064056959412175))
  }

  test("rsi composite matches pandas golden") {
    assertSeq(column(tech, "rsi"), Seq(Double.NaN, 99.99999999333333, 85.15283842236988,
      88.1405956480194, 88.96082687555966, 80.16441318227504, 84.24871669557773,
      84.24871669477707, 73.73734045144906, 78.10222981532503, 80.39929971526894,
      70.3378212259136, 76.58086276547475, 78.33468225246949, 67.41262567917676,
      74.93870142805532, 76.50401309620317, 67.47329307760731, 74.22460351802013,
      77.07910810300257), tol = 1e-7)
  }

  test("macd / signal / histogram match pandas golden (adjust=true, two passes)") {
    assertSeq(column(tech, "macd"), Seq(0.0, 0.033653846153839595, -0.009835218432044712,
      0.06088768648287157, 0.12986945723876886, 0.12185909838608211, 0.22787720949054346,
      0.29530164495398026, 0.2730009261229185, 0.3459263601861693, 0.4523752316612075,
      0.45285348595375297, 0.5827724926480897, 0.7188145385401725, 0.723226864199475,
      0.8873038102617699, 1.0447431719996558, 1.0705259555393383, 1.2376912628688217,
      1.4363375822381528))
    assertSeq(column(tech, "macd_signal"), Seq(0.0, 0.018696581196577553,
      0.007003220693043838, 0.0252567660148012, 0.0563766765407316, 0.07412605361304665,
      0.11303636945804248, 0.15683814265898172, 0.18367232192569158, 0.22002664533003355,
      0.2708631883943249, 0.30994707193171034, 0.36768640974000133, 0.44114267626722325,
      0.4996168924328478, 0.5793999699883151, 0.6746126084050562, 0.7552478736336585,
      0.8531474328191471, 0.9711458923176107))
    assertSeq(column(tech, "macd_histogram"), Seq(0.0, 0.014957264957262042,
      -0.01683843912508855, 0.03563092046807037, 0.07349278069803726, 0.04773304477303546,
      0.11484084003250099, 0.13846350229499854, 0.08932860419722691, 0.12589971485613574,
      0.18151204326688264, 0.14290641402204263, 0.2150860829080884, 0.27767186227294927,
      0.22360997176662722, 0.30790384027345474, 0.3701305635945996, 0.31527808190567974,
      0.38454383004967463, 0.46519168992054205))
  }

  test("ewma is null until first non-null input; constant series is identity") {
    val s = spark
    import s.implicits._
    val df = Seq[(String, Long, Option[Double])](
      ("A", 0L, None), ("A", 1L, None), ("A", 2L, Some(5.0)), ("A", 3L, Some(5.0)))
      .toDF("symbol", "event_id", "x")
      .withColumn("datetime", timestamp_micros(col("event_id")))
    for (adjust <- Seq(true, false)) {
      val out = df.select(col("symbol"), col("event_id"),
        Ewma.ewmaSpanOver(col("x"), 5, adjust,
          Seq(col("symbol")), Seq(col("datetime"), col("event_id"))).as("y"))
      assertSeq(column(out, "y"), Seq(Double.NaN, Double.NaN, 5.0, 5.0))
    }
  }

  test("interior nulls: ignoreNulls=true freezes weights, =false ages them (pandas parity)") {
    val s = spark
    import s.implicits._
    val df = Seq[(Long, Option[Double])](
      (0L, Some(10.0)), (1L, None), (2L, Some(12.0)), (3L, None), (4L, None),
      (5L, Some(14.0)), (6L, Some(13.0)))
      .toDF("event_id", "x")
      .withColumn("symbol", lit("A"))
      .withColumn("datetime", timestamp_micros(col("event_id")))
    def run(ignoreNulls: Boolean) = column(
      df.select(col("symbol"), col("event_id"),
        Ewma.ewmaOver(col("x"), 2.0 / 6.0, adjust = true,
          Seq(col("symbol")), Seq(col("datetime"), col("event_id")),
          ignoreNulls = ignoreNulls).as("y")), "y")
    // pandas Series.ewm(span=5, adjust=True, ignore_na=...).mean()
    assertSeq(run(true), Seq(10.0, 10.0, 11.200000000000001, 11.200000000000001,
      11.200000000000001, 12.526315789473683, 12.723076923076922))
    assertSeq(run(false), Seq(10.0, 10.0, 11.384615384615385, 11.384615384615385,
      11.384615384615385, 13.216138328530258, 13.105411103302881))
  }

  test("ewma is usable from SQL via GraftExtensions") {
    barsOf(close).createOrReplaceTempView("ewma_bars")
    // plain decimal literal (`0.2`, not `0.2D`) — the documented spelling;
    // regression for the Catalyst Decimal literal-unwrap path
    val out = spark.sql(
      """SELECT ewma(close, 0.2, false)
        |  OVER (PARTITION BY symbol ORDER BY datetime, event_id) AS y
        |FROM ewma_bars""".stripMargin)
    assert(out.count() == close.length)
    val first = out.orderBy("y").limit(1).collect()(0).getDouble(0)
    assert(!first.isNaN)

    // 4-argument form: ignoreNulls=false must reach the expression — over
    // interior nulls it equals the DataFrame path with the same flag and
    // differs from the default (weights frozen across nulls)
    val gappy = barsOf(close).withColumn("close",
      when(col("event_id") % 3 === 1, lit(null)).otherwise(col("close")))
    gappy.createOrReplaceTempView("ewma_gappy")
    val viaSql = column(spark.sql(
      """SELECT symbol, event_id, ewma(close, 0.2, true, false)
        |  OVER (PARTITION BY symbol ORDER BY datetime, event_id) AS y
        |FROM ewma_gappy""".stripMargin), "y")
    def viaDf(ignoreNulls: Boolean) = column(gappy.select(col("symbol"),
      col("event_id"), Ewma.ewmaOver(col("close"), 0.2, adjust = true,
        Seq(col("symbol")), Seq(col("datetime"), col("event_id")),
        ignoreNulls = ignoreNulls).as("y")), "y")
    assert(viaSql == viaDf(ignoreNulls = false))
    assert(viaSql != viaDf(ignoreNulls = true))
  }

  test("ewma partitions independently per symbol") {
    val two = barsOf(close, "A").unionByName(barsOf(close.map(_ * 2), "B"))
    val t = Features.computeAllFeatures(two)
    val a = column(t.filter(col("symbol") === "A"), "macd")
    val b = column(t.filter(col("symbol") === "B"), "macd")
    a.zip(b).foreach { case (x, y) =>
      assert(math.abs(x.get * 2 - y.get) < 1e-9) // linear operator: scale by 2
    }
  }

  test("holt level/trend recursion matches the imperative reference loop bit-exactly") {
    val out = barsOf(close).select(col("symbol"), col("event_id"),
      graft.expr.Holt.holtOver(col("close"), 0.3, 0.1,
        Seq(col("symbol")), Seq(col("datetime"), col("event_id"))).as("h"))
      .select(col("symbol"), col("event_id"),
        col("h.level").as("level"), col("h.trend").as("trend"))
    // independent imperative replay of l' = α·x + (1-α)(l+b),
    // b' = β(l'-l) + (1-β)b, seeded l₁=x₁, b₁=0
    var l = 0.0; var b = 0.0; var started = false
    val want = close.map { x =>
      if (!started) { l = x; b = 0.0; started = true }
      else {
        val nl = 0.3 * x + 0.7 * (l + b)
        val nb = 0.1 * (nl - l) + 0.9 * b
        l = nl; b = nb
      }
      (l, b)
    }
    assertSeq(column(out, "level"), want.map(_._1), tol = 0.0)
    assertSeq(column(out, "trend"), want.map(_._2), tol = 0.0)
  }

  test("kama recursion matches the imperative reference loop (random walk)") {
    val rnd = new scala.util.Random(7)
    val closes = Seq.iterate(100.0, 40)(c => c + rnd.nextDouble() * 2 - 1)
    val out = graft.features.Market.withKama(barsOf(closes))
    // independent imperative replay
    val n = 10
    val fsc = 2.0 / 3.0; val ssc = 2.0 / 31.0
    val cum = closes.indices.map { i =>
      (1 to i).map(j => math.abs(closes(j) - closes(j - 1))).sum
    }
    var v = 0.0; var started = false
    val want = closes.indices.map { i =>
      if (i < n) (None, None)
      else {
        val vol = cum(i) - (if (i >= n) cum(i - n) else 0.0)
        val change = math.abs(closes(i) - closes(i - n))
        val er = if (vol > 0) change / vol else 0.0
        val a0 = er * (fsc - ssc) + ssc
        val alpha = a0 * a0
        if (!started) { v = closes(i); started = true }
        else v = v + alpha * (closes(i) - v)
        (Some(er), Some(v))
      }
    }
    val gotEr = column(out, "er")
    val gotKama = column(out, "kama")
    want.zipWithIndex.foreach { case ((er, k), i) =>
      assert(gotEr(i).isDefined == er.isDefined, s"er gate at $i")
      er.foreach(e => assert(math.abs(gotEr(i).get - e) < 1e-9, s"er at $i"))
      assert(gotKama(i).isDefined == k.isDefined, s"kama gate at $i")
      k.foreach(x => assert(math.abs(gotKama(i).get - x) < 1e-9, s"kama at $i"))
    }
  }

  test("holt trend converges to the slope on a perfect linear ramp") {
    val ramp = (1 to 60).map(i => 10.0 + 2.5 * i)
    val out = barsOf(ramp).select(col("symbol"), col("event_id"),
      graft.expr.Holt.holtOver(col("close"), 0.3, 0.1,
        Seq(col("symbol")), Seq(col("datetime"), col("event_id"))).as("h"))
      .select(col("symbol"), col("event_id"), col("h.trend").as("trend"))
    val last = column(out, "trend").last.get
    assert(math.abs(last - 2.5) < 0.05, s"trend $last should approach 2.5")
  }
}
