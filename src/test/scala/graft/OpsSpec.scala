package graft

import graft.analytics.{Ranking, Sampling}
import graft.media.Multimodal
import graft.source.Bars
import graft.text.Dedup
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Golden / invariant tests for the events→bars adapter, the scalable
  * global row numbering, connected components, deterministic sampling, and
  * frame sampling. */
class OpsSpec extends SparkSpec {

  private def eventsOf(rows: Seq[(Long, Long, Long, Double)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("event_id", "ts_us", "user_id", "value")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
  }

  test("fromEvents adapter: open=prev close per symbol, high/low bracket, volume mod") {
    // two users folding into two symbols (k=2); interleaved times
    val ev = eventsOf(Seq(
      (1L, 1000000L, 4L, 10.0),   // symbol 0
      (2L, 2000000L, 5L, 20.0),   // symbol 1
      (3L, 3000000L, 4L, 8.0),    // symbol 0
      (1003L, 4000000L, 5L, 25.0) // symbol 1, volume = 1003 % 1000 = 3
    ))
    val bars = Bars.fromEvents(ev, k = 2).orderBy("event_id").collect()
      .map(r => (r.getAs[String]("symbol"), r.getAs[Long]("event_id"),
        r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"),
        r.getAs[Double]("volume")))
    assert(bars.toSeq == Seq(
      ("0", 1L, 10.0, 10.0, 10.0, 10.0, 1.0),  // first row: open coalesces to close
      ("1", 2L, 20.0, 20.0, 20.0, 20.0, 2.0),
      ("0", 3L, 10.0, 10.0, 8.0, 8.0, 3.0),    // open = prev close; high=max, low=min
      ("1", 1003L, 20.0, 25.0, 20.0, 25.0, 3.0)))
  }

  test("withGlobalRowNumber equals the single-partition window numbering") {
    val ev = eventsOf((1L to 97L).map(i =>
      // deliberately skewed, duplicated timestamps to exercise tie handling
      (i, (i % 7) * 1000000L, i % 3, i.toDouble)))
    val (got, n) = Ranking.withGlobalRowNumber(
      ev, unix_micros(col("ts")), Seq(col("ts"), col("event_id")), buckets = 5)
    assert(n == 97L)
    val want = ev.withColumn("rn",
      row_number().over(Window.orderBy(col("ts"), col("event_id"))).cast("long"))
    assert(got.select("event_id", "rn").orderBy("event_id").collect().toSeq ==
      want.select("event_id", "rn").orderBy("event_id").collect().toSeq)
  }

  test("connectedComponents: chain and isolated pair converge to min labels") {
    val s = spark
    import s.implicits._
    // chain 1-2-3-4 (diameter 3, needs >1 propagation round) + pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("connectedComponentsStar handles a 100-node chain; propagation falls back to it") {
    val s = spark
    import s.implicits._
    // planted worst case for per-hop propagation: a single 100-node chain
    // (diameter 99) plus an isolated pair — min-label propagation would need
    // 99 rounds, large-star/small-star O(log² n)
    val chain = (1L until 100L).map(i => (i, i + 1)) :+ (500L, 501L)
    val pairs = chain.toDF("doc_a", "doc_b")
    val want = ((1L to 100L).map(i => (i, 1L)) ++ Seq((500L, 500L), (501L, 500L))).sorted
    val star = Dedup.connectedComponentsStar(pairs)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(star == want)
    // the public operator must survive a diameter far beyond its round cap
    // by falling back to the star variant instead of throwing
    val viaFallback = Dedup.connectedComponents(pairs, maxIters = 5)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaFallback == want)
  }

  test("bucketSelfPairs: salted hot-bucket path yields exactly the plain join's pairs") {
    val s = spark
    import s.implicits._
    // one hot bucket (60 docs share a band value) + two cold ones; cap 20
    // forces the hot bucket through the salt-replicate branch
    val rows = ((1L to 60L).map(i => (i, 0, "hot")) ++
      Seq((101L, 0, "c1"), (102L, 0, "c1"), (103L, 1, "c2"), (104L, 1, "c2")))
      .toDF("doc_id", "band_idx", "band_val")
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val plain = collectPairs(
      Dedup.bucketSelfPairs(rows, Seq("band_idx", "band_val"), hotCap = 1000))
    val salted = collectPairs(
      Dedup.bucketSelfPairs(rows, Seq("band_idx", "band_val"), hotCap = 20, salts = 4))
    assert(plain.size == 60 * 59 / 2 + 2) // hot-bucket pairs + (101,102) + (103,104)
    assert(salted == plain) // salt-replicate loses and invents nothing
  }

  test("thresholdSweep: planted pair jaccards bin cumulatively with exact ranges") {
    val s = spark
    import s.implicits._
    // pairs at 0.95, 0.72, 0.55: bins are cumulative-from-above
    val pairs = Seq(
      (1L, 2L, 0.95), (3L, 4L, 0.72), (5L, 6L, 0.55), (1L, 3L, 0.55)
    ).toDF("doc_a", "doc_b", "jaccard")
    val got = graft.text.Dedup.thresholdSweep(pairs)
      .orderBy("threshold").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      (0.5, 4L, 6L, 0.55, 0.95),  // all pairs; docs 1..6
      (0.6, 2L, 4L, 0.72, 0.95),  // docs {1,2,3,4}
      (0.7, 2L, 4L, 0.72, 0.95),
      (0.8, 1L, 2L, 0.95, 0.95),
      (0.9, 1L, 2L, 0.95, 0.95)))
  }

  test("crossCorpusPairs flags planted train/eval dups; decontaminate drops exactly those") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far " +
      "away again and again every single day"
    val train = Seq(
      (1L, base),                              // exact dup of eval 101
      (2L, base.replace("quick", "slow")),     // near-dup (1 of 19 tokens)
      (3L, "completely different text with no shingle overlap whatsoever at all")
    ).toDF("doc_id", "text")
    val benchmark = Seq(
      (101L, base),
      (102L, "another unrelated benchmark document entirely distinct too")
    ).toDF("doc_id", "text")
    val pairs = Dedup.crossCorpusPairs(train, benchmark).collect()
    val contaminated = pairs.map(_.getLong(0)).toSet
    // the exact duplicate shares every band and has Jaccard exactly 1.0
    val exact = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 101L)
    assert(exact.isDefined, s"planted exact dup not found in ${pairs.toSeq}")
    assert(exact.get.getDouble(2) == 1.0)
    assert(!contaminated.contains(3L), "disjoint doc flagged as contaminated")
    // decontaminate keeps exactly train minus the flagged ids
    val kept = Dedup.decontaminate(train, benchmark)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L) -- contaminated)
  }

  test("repetition signals match hand-computed values on planted docs") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a a a a"),                  // 1 distinct token; one bigram ×3
      (2L, "a b c d"),                  // all distinct; 3 distinct bigrams
      (3L, "spam spam ham spam spam"),  // "spam spam" ×2 of 4 bigrams
      (4L, "solo")                      // single token: no bigrams
    ).toDF("doc_id", "text")
    val out = graft.text.TextStats.repetition(docs).orderBy("doc_id").collect()
    assert(out.length == 4)
    def row(i: Int) = (out(i).getLong(1),
      out(i).getDouble(2),
      if (out(i).isNullAt(3)) None else Some(out(i).getDouble(3)),
      if (out(i).isNullAt(4)) None else Some(out(i).getDouble(4)))
    assert(row(0) == ((4L, 0.75, Some(1.0), Some(1.0))))
    assert(row(1) == ((4L, 0.0, Some(1.0 / 3.0), Some(0.0))))
    assert(row(2) == ((5L, 0.6, Some(0.5), Some(0.5))))
    assert(row(3) == ((1L, 0.0, None, None)))
  }

  test("windowMedianApprox stays within one rank of the exact frame percentiles") {
    // percentile_approx returns an actual frame ELEMENT at the approximate
    // rank (nearest-rank, no interpolation), so a value-relative tolerance
    // is the wrong invariant — on a 2-element frame the element adjacent to
    // the interpolated exact value is arbitrarily far in value. The
    // guarantee to assert is RANK-based: with accuracy 10000 ≫ frame size,
    // each approx percentile must lie within one rank of the exact
    // bracketing elements arr[floor(h)]..arr[ceil(h)], h = (n−1)·q.
    val dir = "/root/testdata/sf0.001"
    val w = Window.partitionBy("symbol")
      .orderBy(col("datetime"), col("event_id")).rowsBetween(-20, 0)
    val frames = Bars.bars(spark, dir).select(col("symbol"), col("event_id"),
      sort_array(collect_list(col("close")).over(w)).as("arr"))
    val approx = graft.queries.Analytics.windowMedianApprox(spark, dir)
      .select("symbol", "event_id", "p25_close", "med_close", "p75_close")
    val joined = frames.join(approx, Seq("symbol", "event_id")).collect()
    assert(joined.length == 1000)
    joined.foreach { r =>
      val arr = r.getSeq[Double](2)
      val n = arr.length
      Seq(0.25 -> 3, 0.5 -> 4, 0.75 -> 5).foreach { case (q, i) =>
        val a = r.getDouble(i)
        val h = (n - 1) * q
        val lo = arr(math.max(math.floor(h).toInt - 1, 0))
        val hi = arr(math.min(math.ceil(h).toInt + 1, n - 1))
        // 1e-5 slack absorbs the r6 rounding of the approx output
        assert(lo - 1e-5 <= a && a <= hi + 1e-5,
          s"sym ${r.getString(0)} event ${r.getLong(1)} q=$q: $a outside [$lo, $hi]")
      }
      // percentile monotonicity must survive the approximation
      assert(r.getDouble(3) <= r.getDouble(4) && r.getDouble(4) <= r.getDouble(5))
    }
  }

  test("hash sampling is deterministic, quota-exact, and order-independent") {
    val ev = eventsOf((1L to 500L).map(i => (i, i * 1000L, i % 5, i.toDouble)))
    val a = Sampling.bernoulliByHash(ev, col("event_id"), "2")
      .select("event_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.bernoulliByHash(ev.repartition(7), col("event_id"), "2")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty && a.size < 500) // reproducible across partitionings
    val strat = Sampling.stratifiedByHash(ev, col("user_id"), col("event_id"), 10)
    val perStratum = strat.groupBy("user_id").count().collect()
      .map(r => r.getLong(1)).toSeq
    assert(perStratum.length == 5 && perStratum.forall(_ == 10L))
  }

  test("absCorrTopK: planted matrix matches driver Pearson; zero-variance -> 0; order (|corr| desc, name)") {
    val s = spark
    import s.implicits._
    // f1 perfectly anti-correlated with target, f2 partially, f3 constant
    val rows = Seq(
      (0.25, 1.5, 7.0, 1), (0.5, 3.25, 7.0, 1), (0.75, 2.0, 7.0, 0),
      (1.0, 5.5, 7.0, 0), (1.25, 4.0, 7.0, 0), (1.5, 6.75, 7.0, 0))
    val m = rows.toDF("f1", "f2", "f3", "target")
    val got = graft.queries.Core.absCorrTopK(m, Seq("f1", "f2", "f3"), "target", 3)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    def pearson(xs: Seq[Double], ys: Seq[Double]): Double = {
      val n = xs.size.toDouble
      val (sx, sy) = (xs.sum, ys.sum)
      val (sxx, syy) = (xs.map(x => x * x).sum, ys.map(y => y * y).sum)
      val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
      (n * sxy - sx * sy) / (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    }
    val ys = rows.map(_._4.toDouble)
    val e1 = math.abs(pearson(rows.map(_._1), ys))
    val e2 = math.abs(pearson(rows.map(_._2), ys))
    assert(got.map(_._1).toSeq == Seq("f1", "f2", "f3"), s"order: ${got.toSeq}")
    // planted values are exact at 1e6 scaling, so the decimal-power-sum
    // path must match a plain driver Pearson to rounding of the 6dp emit
    assert(math.abs(got(0)._2 - e1) < 1e-6 && math.abs(got(1)._2 - e2) < 1e-6)
    assert(got(2)._2 == 0.0, "zero-variance feature reports 0, not NaN")
    assert(e1 > e2 && e2 > 0.0, "planted ordering premise")
  }

  test("mlFeatureBins: quartiles partition rows; rates reconstruct the total positives") {
    val got = graft.queries.Core.mlFeatureBins(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val byFeat = got.groupBy(_._1)
    assert(byFeat.keySet == graft.queries.Core.FeatureBinCols.toSet)
    byFeat.foreach { case (f, rows) =>
      assert(rows.map(_._2).sorted.toSeq == Seq(1, 2, 3, 4), s"$f bins")
      val n = rows.map(_._3).sum
      // quartiles: each bin holds 15-35% of rows (ties can skew mildly)
      rows.foreach { r =>
        assert(r._3 > n / 8 && r._3 < n / 2, s"$f bin ${r._2}: ${r._3}/$n") }
      // target_rate is n_pos/n_rows to 6dp
      rows.foreach { r =>
        assert(math.abs(r._5 - r._4.toDouble / r._3) < 1e-6, s"$f rate") }
    }
    // every feature's bins cover the same matrix rows
    assert(byFeat.values.map(_.map(_._3).sum).toSet.size == 1)
  }

  test("duplicationDensity: planted shared windows, distinct-per-doc, short docs dropped") {
    val s = spark
    import s.implicits._
    // w=3: doc1 has 4 windows, two of which ("b c d", "c d e") also appear
    // in doc2; doc3 repeats a window INTERNALLY (distinct-per-doc: counted
    // once, and it appears in no other doc -> density 0); doc4 too short
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "x b c d e y"),
      (3L, "p q r p q r p q"), (4L, "s t")).toDF("doc_id", "text")
    val got = graft.text.Dedup.duplicationDensity(docs, w = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L), "doc4 (< w tokens) dropped")
    assert(got(0) == ((1L, 4L, 2L, 0.5)), s"doc1: ${got(0)}")
    assert(got(1) == ((2L, 4L, 2L, 0.5)))
    // doc3: windows p-q-r, q-r-p, r-p-q (x2 dropped by distinct) -> 3+...
    // tokens p q r p q r p q -> 6 windows, distinct = {pqr, qrp, rpq} +
    // trailing {rpq(5), pq? no: windows at i=1..6} -> distinct 3; none dup
    assert(got(2)._3 == 0L && got(2)._4 == 0.0, s"doc3: ${got(2)}")
  }

  test("boilerplate: planted 3-of-5 template flagged source-scoped, other source untouched") {
    val s = spark
    import s.implicits._
    // srcA: 5 docs, 3 share the 8-token template window "c o p y r i g h"
    // -> df=3, frac=0.6 >= 0.05 and df >= 2 -> template. srcB has the SAME
    // window once — source-scoped, so it is NOT boilerplate there (df=1).
    val tpl = "c o p y r i g h"
    val docs = Seq(
      (1L, s"$tpl a b d e f g h", "srcA"), (2L, s"$tpl q w e r t y u", "srcA"),
      (3L, s"z x $tpl m n b v c", "srcA"), (4L, "j k l 1 2 3 4 5 6 7", "srcA"),
      (5L, "9 8 7 6 5 4 3 2 1 0", "srcA"),
      (6L, s"$tpl only once here x", "srcB"), (7L, "u i o p a s d f g h", "srcB"))
      .toDF("doc_id", "text", "source")
    val got = graft.text.Dedup.boilerplate(docs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // docs 1-3 each contain the template window (plus their unique windows);
    // every unique window has df=1 -> not template
    assert(got.filter(_._2 == "srcA").forall { case (id, _, _, nTpl) =>
      if (id <= 3L) nTpl == 1L else nTpl == 0L
    }, s"srcA template counts: ${got.mkString(", ")}")
    assert(got.filter(_._2 == "srcB").forall(_._4 == 0L),
      s"srcB must be untouched: ${got.mkString(", ")}")
    // doc1: 15 tokens -> 8 windows, all distinct, exactly 1 is template
    val d1 = got.find(_._1 == 1L).get
    assert(d1._3 == 8L && d1._4 == 1L, s"doc1: $d1")
  }

  test("phashNeighbors banded join equals brute-force HD<=2 over the pattern table") {
    val ev = graft.source.Bars.readEvents(spark, "/root/testdata/sf0.001")
    val got = graft.media.Multimodal.phashNeighbors(ev)
      .select("cluster_a", "cluster_b", "hd8").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pats = graft.media.Multimodal.phashClusters(ev)
      .filter(col("keep") === 1)
      .select(expr("h0 div 257").as("p"), col("phash_cluster"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (pa, ca) <- pats; (pb, cb) <- pats if ca < cb
      hd = java.lang.Long.bitCount(pa ^ pb) if hd >= 1 && hd <= 2
    } yield (ca, cb, hd.toLong)).toSet
    assert(got == want,
      s"banded != brute force: got $got want $want (patterns: ${pats.mkString(",")})")
  }

  test("trigram expressions equal the relational explode pipeline (ties, supplementary chars)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // tie-heavy text (abcabcabd: abc x2 ties vs others), a supplementary-
    // plane char (code point > BMP, where UTF-16 vs UTF-8 order diverge),
    // and a too-short doc
    val docs = Seq(
      (1L, "abcabcabd", "en"), (2L, "xyzxyzxy", "fr"),
      (3L, "a😀b😀c", "en"), (4L, "ab", "fr"))
      .toDF("doc_id", "text", "lang")
    val k = 4
    // relational reference (the pre-round-10 pipeline)
    val grams = docs.filter(length(col("text")) >= 3)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(0, length(text) - 3), p -> substring(text, p + 1, 3))"))
        .as("gram"))
    val wd = Window.partitionBy("doc_id").orderBy(col("c").desc, col("gram"))
    val wantTop = grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .withColumn("dr", row_number().over(wd).cast("long"))
      .filter(col("dr") <= k).select("doc_id", "gram", "dr")
    val gotTop = docs.filter(length(col("text")) >= 3)
      .select(col("doc_id"),
        posexplode(graft.expr.Trigram.topK(col("text"), k)).as(Seq("_p", "gram")))
      .select(col("doc_id"), col("gram"), (col("_p") + 1).cast("long").as("dr"))
    assert(gotTop.except(wantTop).isEmpty && wantTop.except(gotTop).isEmpty,
      s"topK diverges: got ${gotTop.collect().mkString(",")} want ${wantTop.collect().mkString(",")}")
    val wantCnt = grams.groupBy("lang", "gram").agg(count(lit(1)).as("c"))
    val gotCnt = docs.filter(length(col("text")) >= 3)
      .select(col("lang"),
        explode(graft.expr.Trigram.counts(col("text"))).as(Seq("gram", "_c")))
      .groupBy("lang", "gram").agg(sum(col("_c")).as("c"))
    assert(gotCnt.except(wantCnt).isEmpty && wantCnt.except(gotCnt).isEmpty,
      "counts diverge")
  }

  test("burst2: equals the straight-loop Viterbi replay bit-for-bit; planted burst flagged") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    def exp(mean: Double) = -mean * math.log(1.0 - rnd.nextDouble())
    // baseline gaps (mean 1000), a 20-gap burst at 10x rate, baseline again
    val gaps = Seq.fill(30)(exp(1000.0)) ++ Seq.fill(20)(exp(100.0)) ++
      Seq.fill(30)(exp(1000.0))
    val lam = gaps.length.toDouble / gaps.sum // events-per-time MLE, any const works
    val rows = (null.asInstanceOf[java.lang.Double] +: gaps.map(
      java.lang.Double.valueOf)).zipWithIndex.map { case (x, i) =>
      ("u", i.toLong, x, lam)
    }
    val df = rows.toDF("user_id", "event_id", "x", "lam")
    val b = graft.expr.Burst2.burst2Over(col("x"), col("lam"), 4.0, 1.0,
      Seq(col("user_id")), Seq(col("event_id")))
    val got = df.select(col("event_id"), b.as("b"))
      .select(col("event_id"), col("b.cost0"), col("b.cost1"))
      .orderBy("event_id").collect()
      .map(r => (if (r.isNullAt(1)) None else Some((r.getDouble(1), r.getDouble(2)))))
    // straight-loop replay of the exact arithmetic
    val lnS = math.log(4.0)
    var c0 = 0.0; var c1 = 1.0
    val want = gaps.map { x =>
      val t0 = math.min(c0, c1 + 1.0) + lam * x
      val t1 = math.min(c1, c0 + 1.0) + (4.0 * lam * x - lnS)
      val m = math.min(t0, t1)
      c0 = t0 - m; c1 = t1 - m
      (c0, c1)
    }
    assert(got.head.isEmpty, "first row (no gap) must be null")
    got.tail.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g.isDefined, s"row $i null")
      assert(java.lang.Double.doubleToLongBits(g.get._1) ==
        java.lang.Double.doubleToLongBits(w._1) &&
        java.lang.Double.doubleToLongBits(g.get._2) ==
          java.lang.Double.doubleToLongBits(w._2),
        s"row $i: ${g.get} != $w")
    }
    val flags = want.map { case (a0, a1) => a1 < a0 }
    assert(flags.slice(30, 50).count(identity) >= 10,
      s"planted burst not detected: ${flags.mkString(",")}")
    assert(flags.take(25).count(identity) <= 5,
      "baseline prefix misflagged as burst")
  }

  test("hll: register merge (max) equals registers of the union; estimate within 3 sigma") {
    val s = spark
    import s.implicits._
    import graft.analytics.Sketches
    val a = (0L until 3000L).map(i => ("g", i)).toDF("grp", "k")
    val b = (1500L until 5000L).map(i => ("g", i)).toDF("grp", "k")
    val u = a.union(b)
    val regsU = Sketches.hllRegisters(u, col("k"), Seq("grp"))
    val merged = Sketches.hllRegisters(a, col("k"), Seq("grp"))
      .union(Sketches.hllRegisters(b, col("k"), Seq("grp")))
      .groupBy("grp", "bucket").agg(max(col("rho")).as("rho"))
    // sketch-of-union == union-of-sketches, register for register
    assert(regsU.except(merged).isEmpty && merged.except(regsU).isEmpty,
      "register tables diverge")
    val est = Sketches.hllEstimate(regsU, Seq("grp"))
      .collect()(0).getDouble(1)
    val exact = 5000.0
    val sigma = 1.04 / math.sqrt(Sketches.HllM) * exact
    assert(math.abs(est - exact) <= 3 * sigma,
      s"estimate $est vs exact $exact exceeds 3 sigma ($sigma)")
  }

  test("hardNegatives: same-label near-misses excluded, cross-label ranked by cosine") {
    val s = spark
    import s.implicits._
    // probe 0 (label 0) is nearly parallel to 1 (label 0, SAME -> excluded)
    // and to 2 (label 1); 3 (label 1) is orthogonal-ish
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.99f, 0.1f), 0),
      (2L, Seq(0.9f, 0.2f), 1), (3L, Seq(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = graft.sim.Similarity.hardNegatives(emb, numProbes = 1, k = 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == Seq((0L, 0L, 1L, 2L, 1L), (0L, 0L, 2L, 3L, 1L)),
      s"got ${got.toSeq}") // vec 1 (same label) never appears
  }

  test("dimStats/whiten: hand values on planted vectors; zero-std dim maps to 0") {
    val s = spark
    import s.implicits._
    // dim0: {1,3} -> mean 2, std sqrt(2); dim1 constant 5 -> std 0
    val emb = Seq((1L, Seq(1.0f, 5.0f), 0), (2L, Seq(3.0f, 5.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val st = graft.sim.Similarity.dimStats(emb)
      .orderBy("dim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    // std replays the published quantized formula exactly:
    // sqrt((n·Sxx − Sx²)/(n(n−1)))/10⁶ over kx = {1e6, 3e6} — one ulp off
    // plain sqrt(2), and that ulp IS the contract (it is what the oracle
    // hashes)
    val stdQ = math.sqrt((2.0 * 1e13 - 4e6 * 4e6) / (2.0 * 1.0)) / 1e6
    assert(st(0) == ((0L, 2L, 2.0, stdQ, 1.0, 3.0)))
    assert(st(1)._3 == 5.0 && st(1)._4 == 0.0, "constant dim: std 0")
    // whiten against the 6dp stats: z0 = (x - 2)/round6(stdQ), z1 = 0
    val got = graft.sim.Similarity.whiten(emb, graft.queries.Core.r6)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
    val s6 = math.floor(stdQ * 1e6 + 0.5) / 1e6
    assert(math.abs(got(0)._2 - math.sqrt(1.0 + 25.0)) < 1e-12) // norm_raw
    assert(math.abs(got(0)._3 - math.abs((1.0 - 2.0) / s6)) < 1e-12,
      s"norm_z of (1,5): ${got(0)._3}") // zero-std dim contributes 0
    assert(math.abs(got(1)._3 - (3.0 - 2.0) / s6) < 1e-12)
  }

  test("query registry is consistent: every query has an oracle or is known rows-only") {
    val rowsOnly = Set("topk_importance")
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(oracles.subsetOf(queries),
      s"oracles without queries: ${(oracles -- queries).mkString(", ")}")
    assert(queries -- oracles == rowsOnly,
      s"queries silently missing an oracle: ${(queries -- oracles -- rowsOnly).mkString(", ")}")
  }

  test("DotProduct matches the HOF fold bit-for-bit, including null semantics") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),          // 32.0
      (2L, Seq(0.1, 0.2, 0.3, 0.7), Seq(1.3, 2.7, 3.1, 0.9)), // fp-order sensitive
      (3L, Seq.empty[Double], Seq.empty[Double])               // empty -> 0.0
    ).toDF("id", "a", "b")
    val hof = expr("aggregate(zip_with(a, b, (p, q) -> p * q), 0D, (acc, v) -> acc + v)")
    val both = df.select(col("id"),
      graft.expr.DotProduct.dot(col("a"), col("b")).as("fast"), hof.as("ref"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    both.foreach { case (id, fast, ref) =>
      assert(java.lang.Double.doubleToLongBits(fast) ==
        java.lang.Double.doubleToLongBits(ref), s"row $id: $fast != $ref")
    }
    // length mismatch and null element both yield NULL (zip_with padding /
    // null poisoning the fold)
    val edge = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)),
      (2L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0))
    ).toDF("id", "a", "b")
      .select(graft.expr.DotProduct.dot(col("a"), col("b")).as("d"))
      .collect()
    assert(edge.forall(_.isNullAt(0)))
    // SQL registration via GraftExtensions
    val viaSql = spark.sql("SELECT dot_product(array(1D, 2D), array(3D, 4D))")
      .collect()(0).getDouble(0)
    assert(viaSql == 11.0)
  }

  test("MinGramMd5 equals the declarative HOF fingerprint, incl. short strings") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "short"), (3L, "exactly8"), (4L, "aaaaaaaaaa")).toDF("id", "text")
    val hof = expr("array_min(transform(sequence(1, greatest(length(text) - 7, 1)), " +
      "i -> md5(substring(text, i, 8))))")
    val rows = df.select(col("id"),
        graft.expr.MinGramMd5.minGramMd5(col("text"), 8).as("fast"), hof.as("ref"))
      .collect()
    rows.foreach(r => assert(r.getString(1) == r.getString(2), s"id ${r.getLong(0)}"))
  }

  test("CharNGramCodes is isomorphic to string grams: same set sizes and intersections") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "abcabcabc"), (2L, "ab"), (3L, "the quick brown fox"),
      (4L, "the quick brown cat")).toDF("id", "text")
    val strGrams = expr("array_distinct(transform(sequence(1, greatest(length(text) - 3, 1)), " +
      "i -> substring(text, i, 4)))")
    val packed = graft.expr.CharNGramCodes.charNGramCodes(col("text"), 4)
    val sizes = df.select(col("id"), size(strGrams).as("a"), size(packed).as("b")).collect()
    sizes.foreach(r => assert(r.getInt(1) == r.getInt(2), s"id ${r.getLong(0)}"))
    // pairwise intersection sizes agree (3 vs 4 share "he q", "uick", ...)
    val g = df.select(col("id"), strGrams.as("sg"), packed.as("pg"))
    val pairs = g.as("x").crossJoin(g.as("y"))
      .filter(col("x.id") < col("y.id"))
      .select(size(array_intersect(col("x.sg"), col("y.sg"))).as("si"),
        size(array_intersect(col("x.pg"), col("y.pg"))).as("pi"))
      .collect()
    pairs.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("funnel counts in-order completions only, strictly after the prior stage") {
    val s = spark
    import s.implicits._
    // user 1: view(1) -> click(2) -> purchase(3): completes all stages
    // user 2: click(1) -> view(2) -> click has NO click after view: stops at view
    // user 3: view(1) -> click(2), purchase BEFORE click (t=1): stops at click
    // user 4: never views (click+purchase only): counted nowhere
    // user 5: view and click at the SAME ts: strict > excludes the click
    val ev = Seq(
      (1L, 1L, "view"), (2L, 1L, "click"), (3L, 1L, "purchase"),
      (1L, 2L, "click"), (2L, 2L, "view"),
      (1L, 3L, "view"), (2L, 3L, "click"), (1L, 3L, "purchase"),
      (1L, 4L, "click"), (2L, 4L, "purchase"),
      (5L, 5L, "view"), (5L, 5L, "click")
    ).map { case (t, u, ty) => (t * 1000000L, u, ty) }
      .toDF("ts_us", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
    val got = graft.analytics.Behavior.funnel(ev, Seq("view", "click", "purchase"))
      .orderBy("stage_idx").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, "view", 4L), (1L, "click", 2L), (2L, "purchase", 1L)))
  }

  test("weeklyRetention cohorts by first-event week with week offsets") {
    val s = spark
    import s.implicits._
    val day = 86400000000L // µs
    // 2024-01-01 is a Monday. user 1 active wk0 and wk2; user 2 wk0 only;
    // user 3 first seen wk1, active wk1 and wk2.
    val base = java.time.Instant.parse("2024-01-01T10:00:00Z").toEpochMilli * 1000L
    val ev = Seq(
      (1L, 0L), (1L, 14L),          // wk0, wk2
      (2L, 1L),                     // wk0
      (3L, 7L), (3L, 15L)           // wk1, wk2 (offset 1 from wk1 cohort)
    ).map { case (u, d) => (base + d * day, u) }
      .toDF("ts_us", "user_id")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
    val got = graft.analytics.Behavior.weeklyRetention(ev)
      .select(col("cohort_week").cast("date").cast("string"),
        col("week_offset"), col("n_users"))
      .orderBy("cohort_week", "week_offset").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      ("2024-01-01", 0L, 2L), ("2024-01-01", 2L, 1L),
      ("2024-01-08", 0L, 1L), ("2024-01-08", 1L, 1L)))
  }

  test("lshPlane is deterministic ±1 and lshAssign buckets fit the bit width") {
    val p0 = graft.sim.Similarity.lshPlane(0, 64)
    assert(p0 == graft.sim.Similarity.lshPlane(0, 64)) // stable across calls
    assert(p0.forall(x => x == 1.0 || x == -1.0))
    assert(p0 != graft.sim.Similarity.lshPlane(1, 64)) // planes differ
    val s = spark
    import s.implicits._
    val vecs = Seq((0L, (1 to 64).map(i => i * 0.01f)),
      (1L, (1 to 64).map(i => -i * 0.01f))).toDF("vec_id", "embedding")
    val buckets = graft.sim.Similarity.lshAssign(vecs)
      .select("vec_id", "tbl", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(buckets.length == 2 * graft.sim.Similarity.LshTables)
    assert(buckets.forall { case (_, _, b) =>
      b >= 0 && b < (1L << graft.sim.Similarity.LshBits) })
    // opposite vectors flip every sign bit: complementary buckets per table
    val byTbl = buckets.groupBy(_._2).values
    byTbl.foreach { g =>
      val Seq(a, b) = g.sortBy(_._1).map(_._3).toSeq
      assert((a ^ b) == (1L << graft.sim.Similarity.LshBits) - 1)
    }
  }

  test("withGlobalRowNumber rejects null sort keys loudly") {
    val s = spark
    import s.implicits._
    val df = Seq(Some(1.0), None, Some(3.0)).toDF("v")
    val e = intercept[IllegalArgumentException] {
      Ranking.withGlobalRowNumber(df, col("v"), Seq(col("v")))._1.count()
    }
    assert(e.getMessage.contains("null"))
  }

  test("sharedNgramPairs finds verbatim windows, counts distinct grams, skips short docs") {
    val s = spark
    import s.implicits._
    val quote = (1 to 9).map(i => s"q$i").mkString(" ") // 9 tokens -> two 8-windows
    val docs = Seq(
      (1L, s"a b c d $quote"),          // shares the quote with 2
      (2L, s"x y z w $quote"),          // ...inside otherwise-distinct text
      (3L, "one two three four five six seven"), // 7 tokens: no 8-window at all
      (4L, "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10")     // no overlap with anyone
    ).toDF("doc_id", "text")
    val got = Dedup.sharedNgramPairs(docs, w = 8, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // docs 1 and 2 share exactly the two windows fully inside the quote
    assert(got.toSeq == Seq((1L, 2L, 2L)))
  }

  test("aggDistinctApprox tracks the exact distinct counts within the rsd envelope") {
    val dir = "/root/testdata/sf0.01"
    val exact = graft.queries.Analytics.aggDistinct(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    val approx = graft.queries.Analytics.aggDistinctApprox(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(approx.keySet == exact.keySet)
    // HLL++ at rsd=0.02 -> hold a generous 5x envelope so the test pins
    // correctness-of-wiring, not sketch luck
    for ((k, (eu, ep)) <- exact; (au, ap) = approx(k)) {
      assert(math.abs(au - eu) <= math.max(3.0, 0.10 * eu),
        s"$k users: approx $au vs exact $eu")
      assert(math.abs(ap - ep) <= math.max(3.0, 0.10 * ep),
        s"$k parities: approx $ap vs exact $ep")
    }
  }

  test("redactPii: every pattern class fires once, ordering prevents double counts") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "contact bob.smith+x@example.org for details"),
      (2L, "server at 10.0.255.7 went down"),
      (3L, "call 555-867-5309 now"),
      (4L, "order id 1234567890123 confirmed"),
      (5L, "plain text with no identifiers"),
      // digits inside an email must NOT also count as num: email rewrites first
      (6L, "mail bob123456789@mail99.example.com today")
    ).toDF("doc_id", "text")
    val got = graft.text.TextStats.redactPii(docs)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 1L, 0L, 0L, 0L),
      (2L, 0L, 1L, 0L, 0L),
      (3L, 0L, 0L, 1L, 0L),
      (4L, 0L, 0L, 0L, 1L),
      (5L, 0L, 0L, 0L, 0L),
      (6L, 1L, 0L, 0L, 0L)))
    // redaction actually rewrote: digest differs from the original text's
    // exactly on the five docs that matched something
    val orig = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("m"))
    val changed = graft.text.TextStats.redactPii(docs)
      .join(orig, "doc_id")
      .filter(col("redacted_md5") =!= col("m"))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(changed.toSeq == Seq(1L, 2L, 3L, 4L, 6L))
  }

  test("withGlobalRunningSum equals the single-partition window cumsum") {
    val ev = eventsOf((1L to 97L).map(i =>
      (i, (i % 7) * 1000000L, i % 3, i.toDouble)))
    val weight = col("event_id") % 10
    val got = Ranking.withGlobalRunningSum(
      ev, unix_micros(col("ts")), Seq(col("ts"), col("event_id")), weight,
      buckets = 5)
    val want = ev.withColumn("cum", sum(weight.cast("long")).over(
      Window.orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(got.select("event_id", "cum").orderBy("event_id").collect().toSeq ==
      want.select("event_id", "cum").orderBy("event_id").collect().toSeq)
  }

  test("chunk: stride offsets, tail-window suppression, short-doc single chunk") {
    val s = spark
    import s.implicits._
    def doc(n: Int) = (0 until n).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, doc(50)),  // windows 0..31, 24..49; 48 suppressed (24 reached the end)
      (2L, doc(10)),  // single short chunk
      (3L, doc(32)),  // exactly one full window; 24 suppressed
      (4L, doc(33))   // 0..31 + 9-token tail at 24
    ).toDF("doc_id", "text")
    val got = graft.text.Corpus.chunk(docs, chunkSize = 32, stride = 24)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 0L, 0L, 32L), (1L, 1L, 24L, 26L),
      (2L, 0L, 0L, 10L),
      (3L, 0L, 0L, 32L),
      (4L, 0L, 0L, 32L), (4L, 1L, 24L, 9L)))
    // every token position is covered by at least one chunk
    val covered = graft.text.Corpus.chunk(docs, 32, 24)
      .groupBy("doc_id").agg(max(col("chunk_start") + col("n_chunk_tokens")).as("hi"))
    val lens = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
    assert(covered.join(lens, "doc_id").filter(col("hi") =!= col("n")).count() == 0)
  }

  test("packSequences: offsets stay under capacity and match the layout identity") {
    val s = spark
    import s.implicits._
    val docs = (1L to 60L).map(i =>
      (i, (0 until (i % 13 + 1).toInt).map(_ => "w").mkString(" ")))
      .toDF("doc_id", "text")
    val packed = graft.text.Corpus.packSequences(docs, capacity = 20)
    assert(packed.filter(col("bin_offset") < 0 || col("bin_offset") >= 20 ||
      col("bin_id") < 0).count() == 0)
    // reference layout: single-window cumsum over the same md5 order
    val ref = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("pk"))
      .withColumn("cum_end", sum(col("n_tokens")).over(
        Window.orderBy(col("pk"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("doc_id"),
        ((col("cum_end") - col("n_tokens")) / 20).cast("long").as("bin_id"),
        ((col("cum_end") - col("n_tokens")) % 20).as("bin_offset"))
    assert(packed.select("doc_id", "bin_id", "bin_offset").orderBy("doc_id")
      .collect().toSeq ==
      ref.select("doc_id", "bin_id", "bin_offset").orderBy("doc_id")
        .collect().toSeq)
  }

  test("mixtureSample: hot source rate-limited, cold sources kept whole, repartition-stable") {
    val s = spark
    import s.implicits._
    def doc(n: Int) = (0 until n).map(_ => "w").mkString(" ")
    val docs = ((1L to 100L).map(i => (i, doc(100), "big")) ++
      (101L to 105L).map(i => (i, doc(10), "s1")) ++
      (106L to 110L).map(i => (i, doc(10), "s2"))).toDF("doc_id", "text", "source")
    val got = graft.text.Corpus.mixtureSample(docs, budgetFrac = 0.5)
    val bySrc = got.groupBy("source").agg(
        count(lit(1)).as("n"), min("sample_rate").as("rate"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // cold sources: rate 1.0 -> every doc kept
    assert(bySrc("s1") == (5L, 1.0) && bySrc("s2") == (5L, 1.0))
    // hot source: rate = (10100 * 0.5 / 3) / 10000 < 1, some docs dropped
    val (nBig, rateBig) = bySrc("big")
    assert(rateBig < 0.2 && nBig > 0 && nBig < 100)
    // independent replay of the draw: java md5 against the same threshold
    val mdCount = (1L to 100L).count { i =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
      val hv = java.lang.Long.parseLong(
        d.take(4).map(b => f"$b%02x").mkString, 16)
      hv < math.floor(rateBig * 4294967296.0).toLong
    }
    assert(nBig == mdCount)
    // decision is keyed on ids, not physical layout
    val again = graft.text.Corpus.mixtureSample(docs.repartition(7), budgetFrac = 0.5)
    assert(again.select("doc_id").orderBy("doc_id").collect().toSeq ==
      got.select("doc_id").orderBy("doc_id").collect().toSeq)
  }

  test("frameSample emits every stride-th frame with stable checksums") {
    val s = spark
    import s.implicits._
    val ev = Seq((1L, "abcdefgh"), (2L, "xy")).toDF("event_id", "props")
    val out = Multimodal.frameSample(ev, repeatN = 4, frameChars = 8, stride = 2)
      .orderBy("event_id", "frame_idx").collect()
    // event 1: payload 32 chars -> 4 frames, stride 2 -> idx 0, 2
    // event 2: payload 8 chars -> 1 frame -> idx 0
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 0L), (1L, 2L), (2L, 0L)))
    val frames = out.map(_.getAs[String]("frame_md5"))
    // frames 0 and 2 of the tiled payload are the same 8 chars -> same md5
    assert(frames(0) == frames(1) && frames.forall(_.length == 32))
  }

  test("charEntropy: planted uniform / skewed / constant alphabets") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "aabb"), (2L, "abcd"), (3L, "aaaa"))
      .toDF("doc_id", "text")
    val got = graft.text.TextStats.charEntropy(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 4L, 2L, 1.0),   // two symbols, equal mass: 1 bit/char
      (2L, 4L, 4L, 2.0),   // four distinct symbols: 2 bits/char
      (3L, 4L, 1L, 0.0)))  // constant: zero entropy
  }

  test("qualityQuota: per-source ceil(n/2) kept, highest scores first") {
    val s = spark
    import s.implicits._
    // src_a: 3 docs with strictly ordered quality (stopword-heavy wins);
    // src_b: 1 doc (quota ceil(0.5) = 1 keeps it)
    val docs = Seq(
      (1L, "the of and is the", "src_a"),
      (2L, "alpha beta gamma delta", "src_a"),
      (3L, "xx", "src_a"),
      (4L, "solo", "src_b")).toDF("doc_id", "text", "source")
    val got = graft.text.Corpus.qualityQuota(docs)
      .select("doc_id", "source", "quality_rank")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // src_a keeps ceil(3·0.5)=2: doc 1 (all stopwords) then doc 2 (longer)
    assert(got.toSeq == Seq((1L, "src_a", 1L), (2L, "src_a", 2L), (4L, "src_b", 1L)))
  }

  test("semanticDedup keeps one canonical vector per cosine cluster") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(2.0f, 0.0f), 0),  // same direction as 0 -> dup
      (2L, Seq(0.0f, 1.0f), 1),
      (3L, Seq(0.0f, 3.0f), 1),  // same direction as 2 -> dup
      (4L, Seq(1.0f, 1.0f), 2)   // cos 0.707 to both axes -> isolated
    ).toDF("vec_id", "embedding", "label")
    val got = graft.sim.Similarity
      .semanticDedup(emb, threshold = 0.9, numCentroids = 1)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == Seq(
      (0L, 0L, 1), (1L, 0L, 0), (2L, 2L, 1), (3L, 2L, 0), (4L, 4L, 1)))
  }

  private def barsOf(closes: Seq[Double], volumes: Seq[Double]) = {
    val s = spark
    import s.implicits._
    closes.zip(volumes).zipWithIndex.map { case ((c, v), i) =>
      ("A", i.toLong + 1, i.toLong * 1000000L, c, c, c, c, v)
    }.toDF("symbol", "event_id", "ts_us", "open", "high", "low", "close", "volume")
      .withColumn("datetime", timestamp_micros(col("ts_us"))).drop("ts_us")
  }

  test("withRollingCorr: gate, perfect correlation, anti-correlation, exact covariance") {
    // volume = 2·close -> corr +1 once the 3-row gate opens
    val pos = graft.features.Market.withRollingCorr(
        barsOf(Seq(1.0, 2.0, 3.0, 4.0), Seq(2.0, 4.0, 6.0, 8.0)), n = 3)
      .orderBy("event_id").select("roll_corr", "roll_cov").collect()
    assert(pos(0).isNullAt(0) && pos(1).isNullAt(0), "rows before the gate are null")
    assert(pos.drop(2).forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-12))
    // row 3 by hand: sx=6 sy=12 sxy=28 sxx=14 syy=56 ->
    // cov_n = 3·28 − 6·12 = 12; sample cov = 12/3/2 = 2 (exact in fp)
    assert(pos(2).getDouble(1) == 2.0)
    // volume descending while close ascends -> corr −1
    val neg = graft.features.Market.withRollingCorr(
        barsOf(Seq(1.0, 2.0, 3.0, 4.0), Seq(8.0, 6.0, 4.0, 2.0)), n = 3)
      .orderBy("event_id").select("roll_corr").collect()
    assert(neg.drop(2).forall(r => math.abs(r.getDouble(0) + 1.0) < 1e-12))
    // constant volume -> vary = 0 -> corr null (cov still defined)
    val flat = graft.features.Market.withRollingCorr(
        barsOf(Seq(1.0, 2.0, 3.0), Seq(5.0, 5.0, 5.0)), n = 3)
      .orderBy("event_id").select("roll_corr", "roll_cov").collect()
    assert(flat(2).isNullAt(0) && flat(2).getDouble(1) == 0.0)
  }

  test("gapfill: dense grid, forward fill, gap flags, per-symbol bounds") {
    val s = spark
    import s.implicits._
    val hourly = Seq(
      ("a", 0L, 10.0, 3L), ("a", 1L, 20.0, 2L), ("a", 3L, 30.0, 1L),
      ("b", 10L, 5.0, 4L))
      .toDF("symbol", "h", "close", "n_ticks")
      .withColumn("bar_start",
        timestamp_micros(col("h") * 3600L * 1000000L).cast("timestamp_ntz"))
      .drop("h")
    val got = graft.analytics.TimeWindows.gapfill(hourly)
      .orderBy("symbol", "bar_start")
      .select("symbol", "close", "is_gap", "n_ticks").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getInt(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("a", 10.0, 0, 3L), ("a", 20.0, 0, 2L),
      ("a", 20.0, 1, 0L),                      // hour 2: filled from hour 1
      ("a", 30.0, 0, 1L),
      ("b", 5.0, 0, 4L)))                      // b's grid spans only its own hour
  }

  test("vocab: counts, doc frequency, count-then-token ordering") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "b a a"), (2L, "a c")).toDF("doc_id", "text")
    val got = graft.text.TextStats.vocab(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("a", 3L, 2L), ("b", 1L, 1L), ("c", 1L, 1L)))
  }

  test("stripDupSpans: corpus-wide span counts, ordered rebuild, full-drop and tail spans") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "x y a b"), (2L, "x y c d"),  // "x y" shared by docs 1,2,4
      (3L, "e f"),                        // untouched
      (4L, "x y"),                        // every span dropped
      (5L, "q r s"))                      // short tail span survives
      .toDF("doc_id", "text")
    val got = graft.text.Corpus.stripDupSpans(docs, spanTokens = 2, maxDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 1L, "a b"),
      (2L, 2L, 1L, "c d"),
      (3L, 1L, 0L, "e f"),
      (4L, 1L, 1L, ""),
      (5L, 2L, 0L, "q r s")))
  }

  test("stripDupSpansMaximal: 20-token duplicated run removed as ONE maximal span; tail residue pinned") {
    val s = spark
    import s.implicits._
    // a 20-token run (t0..t19) planted at the front of 3 docs, followed by
    // doc-specific text. spanTokens=8: windows [t0..t7] and [t8..t15] are
    // corpus-duplicated (df=3 >= maxDocs=3) and ADJACENT -> one maximal
    // removed span of 2 windows. Window 3 = [t16..t19 + 4 unique tokens]
    // differs per doc (df=1), so the 4-token tail survives — the documented
    // fixed-window boundary artifact this spec pins.
    val run = (0 until 20).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, s"$run u1a u1b u1c u1d extra1"),
      (2L, s"$run u2a u2b u2c u2d extra2"),
      (3L, s"$run u3a u3b u3c u3d extra3"),
      (4L, "plain doc with no duplication at all"))
      .toDF("doc_id", "text")
    val got = graft.text.Corpus.stripDupSpansMaximal(docs, spanTokens = 8, maxDocs = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    // doc 1: 25 tokens -> 4 windows; windows 0,1 dropped as ONE run of 2
    assert(got(0) == ((1L, 4L, 2L, 1L, 2L,
      "t16 t17 t18 t19 u1a u1b u1c u1d extra1")),
      s"got ${got(0)}")
    assert(got(1)._3 == 2L && got(1)._4 == 1L && got(1)._5 == 2L)
    assert(got(2)._4 == 1L, "three adjacent-window docs each report ONE removal event")
    assert(got(3) == ((4L, 1L, 0L, 0L, 0L, "plain doc with no duplication at all")))
    // same kept text as the non-merging operator (merging changes the
    // accounting, never the surviving tokens)
    val plain = graft.text.Corpus.stripDupSpans(docs, spanTokens = 8, maxDocs = 3)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(3)))
    assert(plain.map(_._2).toSeq == got.map(_._6).toSeq)
  }

  test("stripDupSpansMaximal: two separated duplicated regions count as two runs") {
    val s = spark
    import s.implicits._
    // spanTokens=2: docs share spans "a b" (idx 0) and "e f" (idx 2) but
    // diverge at idx 1 — two non-adjacent drops -> 2 runs of length 1
    val docs = Seq(
      (1L, "a b m1 m1 e f"), (2L, "a b m2 m2 e f"), (3L, "a b m3 m3 e f"))
      .toDF("doc_id", "text")
    val got = graft.text.Corpus.stripDupSpansMaximal(docs, spanTokens = 2, maxDocs = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    got.foreach { r =>
      assert(r._2 == 2L && r._3 == 2L && r._4 == 1L,
        s"expected 2 dropped spans in 2 runs of max length 1, got $r")
    }
  }

  test("unigramLogprob: corpus-wide unigram probabilities, per-doc mean") {
    val s = spark
    import s.implicits._
    // corpus counts: a=3, b=1, total=4 -> nlp(a)=-log2(3/4), nlp(b)=2
    val docs = Seq((1L, "a a"), (2L, "a b")).toDF("doc_id", "text")
    val got = graft.text.TextStats.unigramLogprob(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nlpA = -(math.log(0.75) / math.log(2.0))
    assert(got(0)._2 == 2L && math.abs(got(0)._3 - nlpA) < 1e-12)
    assert(got(1)._2 == 2L && math.abs(got(1)._3 - (nlpA + 2.0) / 2.0) < 1e-12)
  }

  test("randomProject: one-hot vectors read the planes back exactly, scaled 1/sqrt(dims)") {
    val s = spark
    import s.implicits._
    // e_0 and e_63: projection d = plane_d(i) / sqrt(8), exact in fp
    val emb = Seq((0L, 1.0f +: Seq.fill(63)(0.0f)), (1L, Seq.fill(63)(0.0f) :+ 1.0f))
      .toDF("vec_id", "embedding")
    val got = graft.sim.Similarity.randomProject(emb).orderBy("vec_id").collect()
    val scale = math.sqrt(8.0)
    for (d <- 0 until graft.sim.Similarity.RprojDims) {
      val plane = graft.sim.Similarity.lshPlane(100 + d, 64)
      assert(got(0).getDouble(1 + d) == plane(0) / scale)
      assert(got(1).getDouble(1 + d) == plane(63) / scale)
    }
  }

  test("withOutliers: spike flagged, constant frame nulled, in-band rows kept") {
    // NOTE: a row z-scored against a frame containing itself is bounded by
    // (n−1)/√n (≈1.155 at n=3), so the test threshold is k=1 — production
    // n=20/k=3 leaves ~4.25 of headroom for real spikes.
    val got = graft.features.Market.withOutliers(
        barsOf(Seq(1.0, 2.0, 3.0, 4.0, 100.0), Seq.fill(5)(1.0)), n = 3, k = 1.0)
      .orderBy("event_id").select("zscore", "is_outlier").collect()
    assert(got(0).isNullAt(0) && got(1).isNullAt(0), "gated rows null")
    // frame (1,2,3): mean 2, std 1 -> z = 1, NOT strictly above k
    assert(got(2).getDouble(0) == 1.0 && got(2).getInt(1) == 0)
    // frame (3,4,100) -> z ≈ 1.1547 > 1, flagged
    assert(got(4).getDouble(0) > 1.0 && got(4).getInt(1) == 1)
    val const = graft.features.Market.withOutliers(
        barsOf(Seq.fill(4)(5.0), Seq.fill(4)(1.0)), n = 3)
      .orderBy("event_id").select("zscore").collect()
    assert(const.forall(_.isNullAt(0)), "constant frames have no zscore")
  }

  test("momentsOf: symmetric series has zero skew, flat triple has kurtosis -1.5") {
    val got = graft.queries.Core.momentsOf(
        barsOf(Seq(1.0, 2.0, 3.0), Seq.fill(3)(1.0)))
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // m2 = 2/3, m3 = 0, m4 = 2/3 -> skew 0, kurt = (2/3)/(4/9) - 3 = -1.5
    assert(got.toSeq == Seq((3L, 0.0, -1.5)))
  }

  test("withAtr: first-row true range, gap-dominated TR, gated rolling mean") {
    val s = spark
    import s.implicits._
    // hand-built OHLC with a gap-up: prev close 10, next low 14 -> TR uses
    // |low - prev_close| = 4 over the bar's own 1-point range
    val bars = Seq(
      ("A", 1L, 1L, 9.0, 11.0, 10.0),   // first row: TR = high - low = 2
      ("A", 2L, 2L, 14.0, 15.0, 14.5),  // gap up: TR = max(1, 5, 4) = 5
      ("A", 3L, 3L, 14.0, 16.0, 15.0))  // TR = max(2, 1.5, 0.5) = 2
      .toDF("symbol", "event_id", "ts_us", "low", "high", "close")
      .withColumn("datetime", timestamp_micros(col("ts_us"))).drop("ts_us")
    val got = graft.features.Market.withAtr(bars, n = 2)
      .orderBy("event_id").select("tr", "atr_2").collect()
    assert(got.map(_.getDouble(0)).toSeq == Seq(2.0, 5.0, 2.0))
    assert(got(0).isNullAt(1), "ATR gated until 2 rows")
    assert(got(1).getDouble(1) == 3.5 && got(2).getDouble(1) == 3.5)
  }

  test("withStochastic: %K position in range, %D smoothing, flat-range null") {
    val s = spark
    import s.implicits._
    def mk(rows: Seq[(Double, Double, Double)]) =
      rows.zipWithIndex.map { case ((lo, hi, c), i) =>
        ("A", i.toLong + 1, i.toLong * 1000000L, lo, hi, c)
      }.toDF("symbol", "event_id", "ts_us", "low", "high", "close")
        .withColumn("datetime", timestamp_micros(col("ts_us"))).drop("ts_us")
    // n=2: frame = (prev, cur); close at the frame top -> %K = 100
    val got = graft.features.Market.withStochastic(
        mk(Seq((1.0, 2.0, 2.0), (1.0, 3.0, 3.0), (2.0, 4.0, 3.0))), n = 2)
      .orderBy("event_id").select("pct_k", "pct_d").collect()
    assert(got(0).isNullAt(0), "%K gated until 2 rows")
    assert(got(1).getDouble(0) == 100.0)              // 3 at top of [1, 3]
    assert(got(2).getDouble(0) == (3.0 - 1.0) / 3.0 * 100) // 3 in [1, 4]
    assert(got.forall(_.isNullAt(1)), "%D needs 3 consecutive %K values")
    // flat range: high == low across the frame -> %K null
    val flat = graft.features.Market.withStochastic(
        mk(Seq((5.0, 5.0, 5.0), (5.0, 5.0, 5.0))), n = 2)
      .orderBy("event_id").select("pct_k").collect()
    assert(flat.forall(_.isNullAt(0)))
  }

  test("modeOf: most frequent event type per user, alphabetic tie-break") {
    val s = spark
    import s.implicits._
    val ev = Seq((1L, "b"), (1L, "a"), (1L, "a"), (1L, "b"), // tie 2-2 -> a
      (2L, "c"), (2L, "c"), (2L, "a")).toDF("user_id", "event_type")
    val got = graft.queries.Analytics.modeOf(ev).orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, "a", 2L), (2L, "c", 2L)))
  }

  test("windowWinsorize invariants: clamped into band, untouched when unclipped") {
    val rows = graft.queries.Analytics.windowWinsorize(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length == 1000)
    rows.foreach { r =>
      val (w, p05, p95, clipped) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getInt(5))
      assert(w >= p05 && w <= p95, s"w_close $w escapes [$p05, $p95]")
      assert(clipped == 0 || w == p05 || w == p95,
        "clipped rows must sit on a band edge")
    }
    assert(rows.exists(_.getInt(5) == 1), "corpus should clip somewhere")
  }

  test("kmeans: planted clusters separate, update pulls centroids to the group mean") {
    val s = spark
    import s.implicits._
    def vec(axis: Int, main: Float, other: Float): Seq[Float] =
      Seq.tabulate(64)(i =>
        if (i == axis) main else if (i == 1 - axis) other else 0.0f)
    // seeds: vec 0 on the x-axis, vec 1 on the y-axis; members lean toward
    // their group's axis but AWAY from the seed — only the updated (mean)
    // centroid keeps them in round 2
    val emb = Seq(
      (0L, vec(0, 1.0f, 0.0f)), (1L, vec(1, 1.0f, 0.0f)),
      (2L, vec(0, 0.9f, 0.2f)), (3L, vec(0, 0.8f, 0.3f)),
      (4L, vec(1, 0.9f, 0.2f)), (5L, vec(1, 0.8f, 0.3f)))
      .toDF("vec_id", "embedding")
    val got = graft.sim.Similarity.kmeans(emb, k = 2, iters = 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._2).toSeq == Seq(0L, 1L, 0L, 0L, 1L, 1L))
    // every member sits closer to its own (updated) centroid than 1/sqrt(2)
    // (the midline between the two axis groups)
    assert(got.forall(_._3 > 0.7071))
  }

  test("withObv: signed volume accumulation, flat and first rows contribute zero") {
    val got = graft.features.Market.withObv(
        barsOf(Seq(10.0, 12.0, 11.0, 11.0), Seq(5.0, 3.0, 2.0, 7.0)))
      .orderBy("event_id").select("obv").collect().map(_.getDouble(0))
    // 0 (first), +3 (up), 3-2=1 (down), 1 (flat: sign 0)
    assert(got.toSeq == Seq(0.0, 3.0, 1.0, 1.0))
  }

  test("withMfi: flow split on tp direction, zero-negative-flow window is null") {
    // high=low=close in barsOf -> tp == close
    val got = graft.features.Market.withMfi(
        barsOf(Seq(10.0, 12.0, 11.0), Seq(1.0, 1.0, 1.0)), n = 2)
      .orderBy("event_id").select("mfi_2").collect()
    assert(got(0).isNullAt(0), "gated until 2 rows")
    // rows 1-2: pos=12, neg=0 -> 12/0 -> NULL (non-ANSI Spark == DuckDB)
    assert(got(1).isNullAt(0), "zero negative flow divides by zero -> null")
    // rows 2-3: pos=12, neg=11
    assert(math.abs(got(2).getDouble(0) -
      (100.0 - 100.0 / (1.0 + 12.0 / 11.0))) < 1e-12)
  }

  test("withDrawdown: running peak, drawdown from peak, worst drawdown") {
    val got = graft.features.Market.withDrawdown(
        barsOf(Seq(10.0, 12.0, 9.0, 11.0, 8.0), Seq.fill(5)(1.0)))
      .orderBy("event_id")
      .select("peak", "drawdown", "max_drawdown").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      (10.0, 0.0, 0.0),
      (12.0, 0.0, 0.0),
      (12.0, (9.0 - 12.0) / 12.0, -0.25),
      (12.0, (11.0 - 12.0) / 12.0, -0.25),
      (12.0, (8.0 - 12.0) / 12.0, (8.0 - 12.0) / 12.0)))
  }

  test("withVwap: cumulative and rolling VWAP with min_samples gate") {
    // high=low=close -> typical price == close; volumes weight the average
    val got = graft.features.Market.withVwap(
        barsOf(Seq(10.0, 20.0, 30.0), Seq(1.0, 1.0, 2.0)), n = 2)
      .orderBy("event_id")
      .select("vwap_cum", "vwap_2", "vwap_distance").collect()
    assert(got.map(_.getDouble(0)).toSeq == Seq(10.0, 15.0, 22.5))
    // rolling window of 2: first row gated to null
    assert(got(0).isNullAt(1) && got(0).isNullAt(2))
    assert(got(1).getDouble(1) == 15.0 && got(2).getDouble(1) == 80.0 / 3.0)
    assert(got(1).getDouble(2) == (20.0 - 15.0) / 15.0 * 100)
    assert(got(2).getDouble(2) == (30.0 - 80.0 / 3.0) / (80.0 / 3.0) * 100)
  }

  test("driftPsi: PSI is non-negative, near-zero on the even/odd null split") {
    // sf0.01, not sf0.001: a null-split PSI concentrates like
    // (bins-1)·(1/n_p + 1/n_q), so ~1000 rows per side are needed before
    // "no drift" reads below the 0.1 rule-of-thumb threshold
    val got = graft.queries.Analytics.driftPsi(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(got.nonEmpty)
    // every PSI term (p-q)*ln(p/q) is >= 0, so the sum must be
    got.foreach { case (t, psi, nCommon) =>
      assert(psi >= 0.0, s"$t: negative PSI $psi")
      assert(nCommon > 0, s"$t: no common bins")
      // even/odd event_ids are exchangeable draws from the same
      // distribution -> drift must read as negligible
      assert(psi < 0.1, s"$t: null split flagged as drift (psi=$psi)")
    }
  }

  test("driftKs: KS in [0,1], near-zero on the null split") {
    val got = graft.queries.Analytics.driftKs(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.nonEmpty)
    got.foreach { case (t, ks) =>
      assert(ks >= 0.0 && ks <= 1.0, s"$t: KS out of range: $ks")
      // exchangeable even/odd split: the max ECDF gap concentrates near
      // ~sqrt(ln(2/a)/n); at n~1000 per side anything over 0.1 is drift
      assert(ks < 0.1, s"$t: null split flagged as drift (ks=$ks)")
    }
  }

  test("curriculum: deciles partition by quality, rank is a decile-ordered permutation") {
    val s = spark
    import s.implicits._
    // quality_score is driven by ws_tokens (punct/stopword terms are 0):
    // longer docs score higher, so doc i's quality rises with i
    val docs = (0L until 40L)
      .map(i => (i, "src", Seq.fill(i.toInt + 1)("tok").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val got = graft.text.Corpus.curriculum(docs)
      .select("doc_id", "decile", "curriculum_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 40)
    // ranks are a permutation of 1..40
    assert(got.map(_._3).sorted.toSeq == (1L to 40L))
    // 40 docs into 10 deciles -> exactly 4 each; decile 1 = best = longest
    val byDecile = got.groupBy(_._2)
    assert(byDecile.keySet == (1L to 10L).toSet && byDecile.values.forall(_.length == 4))
    assert(byDecile(1L).map(_._1).toSet == Set(36L, 37L, 38L, 39L))
    // every rank in decile d precedes every rank in decile d+1
    for (d <- 1L until 10L)
      assert(byDecile(d).map(_._3).max < byDecile(d + 1).map(_._3).min,
        s"decile $d ranks overlap decile ${d + 1}")
  }

  test("Lake.pointInTime: probe-at-change sees it, pre-history is null, latest simultaneous change wins") {
    val s = spark
    import s.implicits._
    val hist = Seq(
      (1L, 10L, "a", 1L), (1L, 20L, "b", 2L),
      // user 2: two simultaneous changes at t=10 — version 2 must win
      (2L, 10L, "x", 1L), (2L, 10L, "y", 2L))
      .toDF("user_id", "t", "state", "version")
      .withColumn("valid_from", timestamp_micros(col("t") * 1000000L))
    val probes = Seq((1L, 5L), (1L, 10L), (1L, 15L), (1L, 25L), (2L, 10L))
      .toDF("user_id", "pt")
      .withColumn("at_ts", timestamp_micros(col("pt") * 1000000L))
    val got = graft.source.Lake.pointInTime(hist, probes, Seq("user_id"),
        "valid_from", "at_ts", Seq("state", "version"))
      .orderBy("user_id", "at_ts")
      .select("user_id", "state").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq
    assert(got == Seq((1L, null), (1L, "a"), (1L, "a"), (1L, "b"), (2L, "y")))
  }

  test("Lake.upsert: newest version wins across multiple update batches") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
      .toDF("k", "v", "version")
    // two update batches for the same key in one pass + one new key
    val updates = Seq((1L, "a2", 2L), (1L, "a3", 3L), (4L, "d", 2L))
      .toDF("k", "v", "version")
    val got = graft.source.Lake.upsert(base, updates, Seq("k"), "version")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a3"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("Lake.snapshotDiff: null values are state, not absence") {
    val s = spark
    import s.implicits._
    val o = Seq((1L, Some(1.0)), (2L, Some(2.0)), (3L, None), (4L, Some(4.0)))
      .toDF("k", "v")
    // 1 unchanged, 2 changed to null, 3 null->null unchanged, 4 removed, 5 added
    val n = Seq((1L, Some(1.0)), (2L, None), (3L, None), (5L, Some(5.0)))
      .toDF("k", "v")
    val got = graft.source.Lake.snapshotDiff(o, n, Seq("k"), Seq("v"))
      .orderBy("k").select("k", "change").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // nulls on both sides (key 3) must NOT surface as changed/removed, and a
    // value changing TO null (key 2) is a change, not a removal
    assert(got == Seq((2L, "changed"), (4L, "removed"), (5L, "added")))
  }

  test("Lake.scd2: validity intervals open-ended at the current state") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (7L, 10L, 1L, "x"), (7L, 20L, 2L, "x"), (7L, 30L, 3L, "y"),
      (7L, 40L, 4L, "y"), (7L, 50L, 5L, "x"),
      (8L, 10L, 6L, "z"))
      .toDF("user_id", "t", "event_id", "event_type")
      .withColumn("ts", timestamp_micros(col("t") * 1000000L))
    val got = graft.source.Lake.scd2(
        ev, Seq("user_id"), "ts", "event_type", Seq("event_id"))
      .orderBy("user_id", "version")
      .select("user_id", "event_type", "valid_from", "valid_to", "version")
      .collect()
    // user 7: x [10,30) -> y [30,50) -> x [50, null); user 8: z [10, null)
    assert(got.length == 4)
    val asTuples = got.map(r => (r.getLong(0), r.getString(1),
      r.getTimestamp(2).getTime / 1000,
      if (r.isNullAt(3)) -1L else r.getTimestamp(3).getTime / 1000,
      r.getLong(4))).toSeq
    assert(asTuples == Seq(
      (7L, "x", 10L, 30L, 1L), (7L, "y", 30L, 50L, 2L),
      (7L, "x", 50L, -1L, 3L), (8L, "z", 10L, -1L, 1L)))
  }

  test("withWilliamsR: hand values, full-frame gate, flat-frame null") {
    val s = spark
    import s.implicits._
    // (high, low, close) per bar; n=3 frames over rows (i-2..i)
    val rows = Seq((10.0, 8.0, 9.0), (12.0, 9.0, 11.0),
      (11.0, 7.0, 8.0), (9.0, 7.0, 9.0), (5.0, 5.0, 5.0))
    val df = rows.zipWithIndex.map { case ((h, l, c), i) =>
      ("A", i.toLong, h, l, c)
    }.toDF("symbol", "event_id", "high", "low", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    val wr = graft.features.Market.withWilliamsR(df, n = 3)
      .orderBy("event_id").select("williams_r").collect()
    assert(wr(0).isNullAt(0) && wr(1).isNullAt(0), "frame gate: first n-1 null")
    // row 2: hh=12 ll=7 -> (12-8)/5*-100 = -80; row 3: hh=12 ll=7 -> -60
    assert(math.abs(wr(2).getDouble(0) - -80.0) < 1e-12)
    assert(math.abs(wr(3).getDouble(0) - -60.0) < 1e-12)
    // row 4: hh=11 ll=5 -> (11-5)/6*-100 = -100
    assert(math.abs(wr(4).getDouble(0) - -100.0) < 1e-12)
    // flat frame (hh == ll) stays null instead of dividing by zero
    val flat = (0 to 3).map(i => ("F", i.toLong, 5.0, 5.0, 5.0))
      .toDF("symbol", "event_id", "high", "low", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    assert(graft.features.Market.withWilliamsR(flat, n = 3)
      .select("williams_r").collect().forall(_.isNullAt(0)))
  }

  test("withDonchian: extrema, mid, position, gates") {
    val s = spark
    import s.implicits._
    val rows = Seq((10.0, 8.0, 9.0), (12.0, 9.0, 11.0),
      (11.0, 7.0, 8.0), (9.0, 7.0, 8.5))
    val df = rows.zipWithIndex.map { case ((h, l, c), i) =>
      ("A", i.toLong, h, l, c)
    }.toDF("symbol", "event_id", "high", "low", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    val d = graft.features.Market.withDonchian(df, n = 3)
      .orderBy("event_id")
      .select("donchian_high", "donchian_low", "donchian_mid", "donchian_pos")
      .collect()
    assert(d(0).isNullAt(0) && d(1).isNullAt(0), "frame gate")
    // row 2: hh=12 ll=7 mid=9.5 pos=(8-7)/5=0.2
    assert(d(2).getDouble(0) == 12.0 && d(2).getDouble(1) == 7.0)
    assert(d(2).getDouble(2) == 9.5)
    assert(math.abs(d(2).getDouble(3) - 0.2) < 1e-12)
    // row 3: hh=12 ll=7 pos=(8.5-7)/5=0.3
    assert(math.abs(d(3).getDouble(3) - 0.3) < 1e-12)
    // flat channel: pos null, bands still emitted
    val flat = (0 to 2).map(i => ("F", i.toLong, 5.0, 5.0, 5.0))
      .toDF("symbol", "event_id", "high", "low", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    val fr = graft.features.Market.withDonchian(flat, n = 3)
      .orderBy("event_id").select("donchian_mid", "donchian_pos").collect()
    assert(fr(2).getDouble(0) == 5.0 && fr(2).isNullAt(1))
  }

  test("withCci: hand values over a 3-bar frame") {
    val s = spark
    import s.implicits._
    // tp = (h+l+c)/3 per bar: 9, 12, 6, 9
    val rows = Seq((10.0, 8.0, 9.0), (14.0, 10.0, 12.0),
      (8.0, 4.0, 6.0), (11.0, 7.0, 9.0))
    val df = rows.zipWithIndex.map { case ((h, l, c), i) =>
      ("A", i.toLong, h, l, c)
    }.toDF("symbol", "event_id", "high", "low", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    val c = graft.features.Market.withCci(df, n = 3)
      .orderBy("event_id").select("cci").collect()
    assert(c(0).isNullAt(0) && c(1).isNullAt(0), "frame gate")
    // row 2: frame tp {9,12,6} mean=9 md=(0+3+3)/3=2 cci=(6-9)/(0.015*2)=-100
    assert(math.abs(c(2).getDouble(0) - -100.0) < 1e-9)
    // row 3: frame tp {12,6,9} mean=9 md=(3+3+0)/3=2 cci=(9-9)/..=0
    assert(math.abs(c(3).getDouble(0) - 0.0) < 1e-12)
    // constant frame: md=0 -> null
    val flat = (0 to 2).map(i => ("F", i.toLong, 6.0, 3.0, 3.0))
      .toDF("symbol", "event_id", "high", "low", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    assert(graft.features.Market.withCci(flat, n = 3)
      .select("cci").collect().forall(_.isNullAt(0)))
  }

  test("withKeltner: bands = EMA(tp) ± mult·ATR, position, ATR gate") {
    val s = spark
    import s.implicits._
    val rows = Seq((10.0, 8.0, 9.0), (12.0, 9.0, 11.0), (11.0, 7.0, 8.0))
    val df = rows.zipWithIndex.map { case ((h, l, c), i) =>
      ("A", i.toLong, h, l, c)
    }.toDF("symbol", "event_id", "high", "low", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    val k = graft.features.Market.withKeltner(df, n = 2, atrN = 2, mult = 1.0)
      .orderBy("event_id")
      .select("keltner_mid", "keltner_high", "keltner_low", "keltner_pos")
      .collect()
    // EMA(tp, span=2, adjust=true): alpha=2/3, decay=1/3
    // tp = 9, 32/3, 26/3
    // row0: mid=9 (atr gated null -> bands null)
    assert(k(0).getDouble(0) == 9.0 && k(0).isNullAt(1) && k(0).isNullAt(3))
    // row1: num=9*(1/3)+32/3=35/3+... wait: num=3+32/3=41/3; den=1/3+1=4/3
    //       mid=41/4=10.25
    assert(math.abs(k(1).getDouble(0) - 10.25) < 1e-12)
    // tr: row0=2, row1=max(3, |12-9|, |9-9|)=3 -> atr(2) row1=(2+3)/2=2.5
    // high=10.25+2.5=12.75 low=7.75 pos=(11-7.75)/5=0.65
    assert(math.abs(k(1).getDouble(1) - 12.75) < 1e-12)
    assert(math.abs(k(1).getDouble(2) - 7.75) < 1e-12)
    assert(math.abs(k(1).getDouble(3) - 0.65) < 1e-12)
  }

  test("withAdx: seeding, DI hand values, trend direction") {
    val s = spark
    import s.implicits._
    // strictly rising bars: +DM > 0 every step, -DM = 0
    val rows = (0 until 30).map { i =>
      ("A", i.toLong, 10.0 + i, 8.0 + i, 9.0 + i)
    }
    val df = rows.toDF("symbol", "event_id", "high", "low", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    val a = graft.features.Market.withAdx(df, n = 14)
      .orderBy("event_id").select("plus_di", "minus_di", "adx").collect()
    // row 0: no prior bar -> everything null
    assert(a(0).isNullAt(0) && a(0).isNullAt(1) && a(0).isNullAt(2))
    // uptrend: +DM=1, -DM=0, TR=max(2, |h-pc|=2, |l-pc|=1)=2 every row
    // -> smoothed ratios are exactly 1/2 and 0 at every row >= 1
    (1 until 30).foreach { i =>
      assert(math.abs(a(i).getDouble(0) - 50.0) < 1e-9, s"plus_di row $i")
      assert(a(i).getDouble(1) == 0.0, s"minus_di row $i")
    }
    // DX = 100*|50-0|/50 = 100 from row 1 -> ADX = 100 (EWMA of constant)
    (1 until 30).foreach { i =>
      assert(math.abs(a(i).getDouble(2) - 100.0) < 1e-9, s"adx row $i")
    }
    // downtrend mirror: minus_di = 50, plus_di = 0
    val down = (0 until 5).map { i =>
      ("D", i.toLong, 10.0 - i, 8.0 - i, 9.0 - i)
    }.toDF("symbol", "event_id", "high", "low", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    val ad = graft.features.Market.withAdx(down, n = 14)
      .orderBy("event_id").select("plus_di", "minus_di").collect()
    assert(ad(2).getDouble(0) == 0.0 &&
      math.abs(ad(2).getDouble(1) - 50.0) < 1e-9)
  }

  test("withAroon: extremum recency, most-recent tie resolution, gate") {
    val s = spark
    import s.implicits._
    val rows = Seq((10.0, 8.0, 9.0), (12.0, 9.0, 11.0),
      (11.0, 7.0, 8.0), (9.0, 7.0, 8.5))
    val df = rows.zipWithIndex.map { case ((h, l, c), i) =>
      ("A", i.toLong, h, l, c)
    }.toDF("symbol", "event_id", "high", "low", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    val a = graft.features.Market.withAroon(df, n = 3)
      .orderBy("event_id").select("aroon_up", "aroon_down", "aroon_osc")
      .collect()
    assert(a(0).isNullAt(0) && a(1).isNullAt(0), "frame gate")
    // row 2: highs {10,12,11} max 1 bar ago -> up=(3-1)/3*100=66.67;
    //        lows {8,9,7} min now -> down=100
    assert(math.abs(a(2).getDouble(0) - 200.0 / 3) < 1e-12)
    assert(a(2).getDouble(1) == 100.0)
    assert(math.abs(a(2).getDouble(2) - (200.0 / 3 - 100.0)) < 1e-12)
    // row 3: highs {12,11,9} max 2 bars ago -> up=33.33;
    //        lows {9,7,7}: min 7 TIES -> most recent (now) wins -> down=100
    assert(math.abs(a(3).getDouble(0) - 100.0 / 3) < 1e-12)
    assert(a(3).getDouble(1) == 100.0)
  }

  test("withVortex: hand values, first-bar seeding, warm-up gate") {
    val s = spark
    import s.implicits._
    val rows = Seq((10.0, 8.0, 9.0), (12.0, 9.0, 11.0), (11.0, 7.0, 8.0))
    val df = rows.zipWithIndex.map { case ((h, l, c), i) =>
      ("A", i.toLong, h, l, c)
    }.toDF("symbol", "event_id", "high", "low", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    val v = graft.features.Market.withVortex(df, n = 2)
      .orderBy("event_id").select("vi_plus", "vi_minus").collect()
    // rows 0-1: tr null on row 0 -> only 1 non-null tr in the frame
    assert(v(0).isNullAt(0) && v(1).isNullAt(0), "warm-up gate")
    // row 2: vm+ {|12-8|=4, |11-9|=2} vm- {|9-10|=1, |7-12|=5}
    //        tr {3, 4} -> vi+ = 6/7, vi- = 6/7
    assert(math.abs(v(2).getDouble(0) - 6.0 / 7) < 1e-12)
    assert(math.abs(v(2).getDouble(1) - 6.0 / 7) < 1e-12)
  }

  test("withCmf: flow accumulation, flat bar contributes zero") {
    val s = spark
    import s.implicits._
    val rows = Seq((10.0, 8.0, 9.0, 100.0), (12.0, 9.0, 11.0, 200.0),
      (10.0, 10.0, 10.0, 50.0))
    val df = rows.zipWithIndex.map { case ((h, l, c, v), i) =>
      ("A", i.toLong, h, l, c, v)
    }.toDF("symbol", "event_id", "high", "low", "close", "volume")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    val c = graft.features.Market.withCmf(df, n = 2)
      .orderBy("event_id").select("cmf_2").collect()
    assert(c(0).isNullAt(0), "frame gate")
    // row 1: mfv {0 (mfm=((9-8)-(10-9))/2=0), 200*(1/3)} vol {100,200}
    //        -> cmf = (200/3)/300 = 2/9
    assert(math.abs(c(1).getDouble(0) - 2.0 / 9) < 1e-12)
    // row 2 (flat bar, mfm=0): cmf = (200/3 + 0)/(200+50) = 4/15
    assert(math.abs(c(2).getDouble(0) - 4.0 / 15) < 1e-12)
  }

  test("withRangeVol: Parkinson/GK hand values, GK null on negative mean") {
    val s = spark
    import s.implicits._
    // (open, high, low, close): row0 pure-range ln4, row1 pure-range ln2
    val rows = Seq((2.0, 4.0, 1.0, 2.0), (1.0, 2.0, 1.0, 1.0),
      (1.0, 2.0, 2.0, 2.0), (1.0, 2.0, 2.0, 2.0))
    val df = rows.zipWithIndex.map { case ((o, h, l, c), i) =>
      ("A", i.toLong, o, h, l, c)
    }.toDF("symbol", "event_id", "open", "high", "low", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    val r = graft.features.Market.withRangeVol(df, n = 2)
      .orderBy("event_id").select("parkinson_2", "garman_klass_2").collect()
    assert(r(0).isNullAt(0), "frame gate")
    // row 1: hl2 {(ln4)², (ln2)²} = 5(ln2)² -> park = sqrt(5·ln2/8)
    assert(math.abs(r(1).getDouble(0) - 0.6581922119335398) < 1e-12)
    // gk mean = 2.5(ln2)²/2 -> ln2·sqrt(1.25)
    assert(math.abs(r(1).getDouble(1) - 0.7749621070721793) < 1e-12)
    // row 3: both bars drift-only (lhl=0, lco=ln2) -> gk mean < 0 -> NULL,
    // parkinson still defined (= 0)
    assert(r(3).getDouble(0) == 0.0 && r(3).isNullAt(1))
  }

  test("withUlcer: squared-drawdown mean, 2n−1 warm-up") {
    val s = spark
    import s.implicits._
    val closes = Seq(10.0, 8.0, 9.0, 6.0)
    val df = closes.zipWithIndex.map { case (c, i) =>
      ("A", i.toLong, c + 1, c - 1, c)
    }.toDF("symbol", "event_id", "high", "low", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    val u = graft.features.Market.withUlcer(df, n = 2)
      .orderBy("event_id").select("ulcer_2").collect()
    // dd defined from row 1; dd² count reaches 2 at row 2 (2n−1 = 3 bars)
    assert(u(0).isNullAt(0) && u(1).isNullAt(0), "warm-up")
    // dd: row1 = -20 (peak 10), row2 = 0 (peak 9), row3 = -100/3 (peak 9)
    assert(math.abs(u(2).getDouble(0) - 14.142135623730951) < 1e-12)
    assert(math.abs(u(3).getDouble(0) - 23.570226039551585) < 1e-12)
  }

  test("withTrix: triple-EMA rate of change hand values") {
    val s = spark
    import s.implicits._
    val closes = Seq(2.0, 4.0, 8.0)
    val df = closes.zipWithIndex.map { case (c, i) =>
      ("A", i.toLong, c + 1, c - 1, c)
    }.toDF("symbol", "event_id", "high", "low", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    val t = graft.features.Market.withTrix(df, n = 2)
      .orderBy("event_id").select("trix").collect()
    assert(t(0).isNullAt(0), "no prior e3 on the first bar")
    // span=2 adjust=true: e3 = [2, 2.84375, 4.711367774...]
    assert(math.abs(t(1).getDouble(0) - 42.1875) < 1e-9)
    assert(math.abs(t(2).getDouble(0) - 65.6744711819814) < 1e-9)
  }

  test("withGopherQuality: each rule gates independently, keep is the conjunction") {
    val s = spark
    import s.implicits._
    val fifty = (1 to 50).map(_ => "the").mkString(" ") // 50 'the's
    val docs = Seq(
      // passes words/len?: 50 words, mean len 3... 'the' len 3 -> pass len;
      // stop_hits = 1 ('the' only) -> fails stopword rule
      (1L, fifty),
      // 50 words incl 8 distinct stopwords -> passes stopwords
      (2L, ((1 to 42).map(_ => "word") ++ graft.text.TextStats.GopherStopwords).mkString(" ")),
      // too short
      (3L, "the of and that"),
      // symbol-heavy: hashes + ellipses
      (4L, (1 to 50).map(_ => "the").mkString(" ") + " # # # ... ... ...")
    ).toDF("doc_id", "text")
    val g = graft.text.TextStats.withGopherQuality(docs)
      .orderBy("doc_id").collect()
    val cols = g.head.schema.fieldNames.zipWithIndex.toMap
    def f(r: org.apache.spark.sql.Row, c: String): Int = r.getInt(cols(c))
    // doc 1: 50 words of 'the' -> pass words/len/symbols/alpha, stop_hits=1
    assert(g(0).getLong(cols("n_words")) == 50L)
    assert(f(g(0), "pass_words") == 1 && f(g(0), "pass_word_len") == 1)
    assert(g(0).getLong(cols("stop_hits")) == 1L && f(g(0), "pass_stopwords") == 0)
    assert(f(g(0), "keep") == 0)
    // doc 2: all 8 stopwords present -> keep (mean len 31/8? no: 42*4+8*avg)
    assert(g(1).getLong(cols("stop_hits")) == 8L)
    assert(f(g(1), "keep") == 1)
    // doc 3: 4 words -> fails word count even with stopwords
    assert(f(g(2), "pass_words") == 0 && f(g(2), "keep") == 0)
    // doc 4: 56 words, 3 hashes + 3 ellipses -> symbol ratio 6/56 > 0.1
    assert(math.abs(g(3).getDouble(cols("symbol_word_ratio")) - 6.0 / 56) < 1e-12)
    assert(f(g(3), "pass_symbols") == 0 && f(g(3), "keep") == 0)
    // the 6 symbol tokens have no alphabetic char, but 50/56 = 0.893 >= 0.8
    assert(f(g(3), "pass_alpha") == 1)
  }

  test("pageRank: hand values on a 3-chain, mass conservation") {
    val s = spark
    import s.implicits._
    // a - b - c symmetrized: outdeg a=1 b=2 c=1
    val und = Seq(("a", "b"), ("b", "c")).toDF("a", "b")
    val edges = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
    val r1 = graft.analytics.Graph.pageRank(edges, iters = 1)
      .orderBy("node").collect()
    // teleport = 0.15/3 = 0.05
    // a: 0.05 + 0.85*(1/3)/2 = 0.19166..; b: 0.05 + 0.85*(1/3 + 1/3) = 0.61666..
    assert(math.abs(r1(0).getDouble(1) - (0.05 + 0.85 / 6)) < 1e-12)
    assert(math.abs(r1(1).getDouble(1) - (0.05 + 0.85 * 2 / 3)) < 1e-12)
    // symmetry: a and c identical
    assert(r1(0).getDouble(1) == r1(2).getDouble(1))
    val r10 = graft.analytics.Graph.pageRank(edges, iters = 10)
      .collect().map(_.getDouble(1))
    assert(math.abs(r10.sum - 1.0) < 1e-9, "rank mass conserved")
    // replay the recurrence exactly: a=c, b oscillate toward the
    // stationary point (b* = 18/37) at rate 0.85 per step
    val tp = (1.0 - 0.85) / 3.0
    var (a, b) = (1.0 / 3, 1.0 / 3)
    for (_ <- 1 to 10) {
      val (na, nb) = (tp + 0.85 * (b / 2), tp + 0.85 * (a + a))
      a = na; b = nb
    }
    val b10 = graft.analytics.Graph.pageRank(edges, iters = 10)
      .filter(col("node") === "b").head().getDouble(1)
    assert(math.abs(b10 - b) < 1e-12)
  }

  test("pageRank: directed graph with sinks — dst-only nodes kept, dangling mass redistributed, mass conserved") {
    val s = spark
    import s.implicits._
    // a→b, a→c, b→c: c is dst-only (dangling, outdeg 0); N=3
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    val r1 = graft.analytics.Graph.pageRank(edges, iters = 1)
      .orderBy("node").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(r1.keySet == Set("a", "b", "c"), "dst-only node c must be in the node set")
    // round 1: D0 = rank0(c) = 1/3, D0/N = 1/9; teleport = 0.05
    val tp = (1.0 - 0.85) / 3.0
    val dm = (1.0 / 3.0) / 3.0
    assert(math.abs(r1("a") - (tp + 0.85 * (0.0 + dm))) < 1e-12)
    assert(math.abs(r1("b") - (tp + 0.85 * (1.0 / 6.0 + dm))) < 1e-12)
    assert(math.abs(r1("c") - (tp + 0.85 * (1.0 / 6.0 + 1.0 / 3.0 + dm))) < 1e-12)
    assert(math.abs(r1.values.sum - 1.0) < 1e-12, "dangling redistribution conserves mass after 1 round")
    val r10 = graft.analytics.Graph.pageRank(edges, iters = 10)
      .collect().map(_.getDouble(1))
    assert(math.abs(r10.sum - 1.0) < 1e-9, "mass conserved over 10 rounds on a dangling graph")
    assert(r10.forall(_ > 0.0))
  }

  test("pageRank: tol early exit stops in fewer rounds, bit-identical to the fixed run of that length") {
    val s = spark
    import s.implicits._
    // complete K4 symmetrized: uniform 1/4 is the stationary point from r0,
    // so per-round deltas are pure float noise — converges almost at once
    val nodes4 = Seq("a", "b", "c", "d")
    val edges = (for { u <- nodes4; v <- nodes4 if u != v } yield (u, v))
      .toDF("src", "dst")
    val (ranks, rounds, _) = graft.analytics.Graph.pageRankWithRounds(
      edges, iters = 50, tol = Some(1e-12))
    assert(rounds < 50, s"expected early exit on K4, ran all $rounds rounds")
    // bit-identical to running exactly that many fixed rounds
    val fixed = graft.analytics.Graph.pageRank(edges, iters = rounds)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    ranks.collect().foreach { r =>
      assert(r.getDouble(1) == fixed(r.getString(0)),
        s"node ${r.getString(0)}: early-exit rank differs from fixed-$rounds run")
    }
    // and within tol-scale distance of the full 50-round run
    val full = graft.analytics.Graph.pageRank(edges, iters = 50)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    ranks.collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - full(r.getString(0))) < 1e-9)
    }
  }

  /** Sequential reference: textbook min-degree peeling (Batagelj–Zaveršnik
    * order), the algorithm the h-index iteration must agree with. */
  private def peelCoreness(edges: Seq[(Int, Int)]): Map[Int, Int] = {
    val adj = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.Set[Int]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    val core = scala.collection.mutable.Map.empty[Int, Int]
    val deg = scala.collection.mutable.Map(adj.toSeq.map { case (n, s) => n -> s.size }: _*)
    var k = 0
    while (deg.nonEmpty) {
      k = math.max(k, deg.values.min)
      val peel = deg.filter(_._2 <= k).keys.toSeq
      peel.foreach { n =>
        core(n) = k
        deg.remove(n)
        adj(n).foreach { m => if (deg.contains(m)) { deg(m) -= 1; adj(m) -= n } }
      }
    }
    core.toMap
  }

  test("coreness: 5-clique with a path tail — clique core 4, tail core 1, early exit") {
    val s = spark
    import s.implicits._
    // clique on 1..5 (coreness 4) + tail 5-6-7 (coreness 1)
    val clique = for { a <- 1 to 5; b <- 1 to 5 if a < b } yield (a, b)
    val pairs = (clique ++ Seq((5, 6), (6, 7))).toDF("a", "b")
    val (c, rounds) = graft.analytics.Graph.coreness(pairs)
    assert(rounds < 64, "expected early exit")
    val m = c.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert((1 to 5).forall(m(_) == 4L), s"clique coreness: $m")
    assert(m(6) == 1L && m(7) == 1L, s"tail coreness: $m")
  }

  test("coreness: star graph — hub coreness 1 despite degree 40") {
    val s = spark
    import s.implicits._
    val pairs = (1 to 40).map(i => (0, i)).toDF("a", "b")
    val m = graft.analytics.Graph.coreness(pairs)._1
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(m.values.forall(_ == 1L), "every node in a star has coreness 1")
  }

  test("coreness: randomized equivalence with sequential min-degree peeling") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val edges = (for (_ <- 1 to 300) yield {
      val a = rnd.nextInt(60); val b = rnd.nextInt(60)
      if (a < b) Some((a, b)) else if (b < a) Some((b, a)) else None
    }).flatten.distinct
    val expected = peelCoreness(edges)
    val got = graft.analytics.Graph.coreness(edges.toDF("a", "b"))._1
      .collect().map(r => r.getInt(0) -> r.getLong(1).toInt).toMap
    assert(got == expected,
      s"h-index vs peeling mismatch: ${got.toSeq.sorted.diff(expected.toSeq.sorted)}")
  }

  test("ivfPqTopK: exact-codebook fixture — ADC distance equals exact L2², bucket-restricted ranking") {
    val s = spark
    import s.implicits._
    // Every subvector is exactly pattern A or B per subspace, and vec0/vec1
    // carry the pure patterns — so PQ's first-k init IS the optimal codebook,
    // Lloyd means reproduce it exactly (means of identical values), and the
    // asymmetric distance MUST equal the exact L2² to the candidate.
    val A = Seq(1.0f, 2.0f, 1.0f, 2.0f)
    val B = Seq(9.0f, 1.0f, 9.0f, 1.0f)
    val rows: Seq[(Long, Seq[Float])] = Seq(
      0L -> (A ++ A), 1L -> (B ++ B),
      2L -> (A ++ B), 3L -> (B ++ A), 4L -> (A ++ A), 5L -> (B ++ B))
    val emb = rows.toDF("vec_id", "embedding")
    val m = 2; val dims = 8; val sw = dims / m
    val got = graft.sim.Similarity.ivfPqTopK(emb, numProbes = 2, k = 5,
      numCentroids = 2, m = m, pqK = 2, iters = 2, dims = dims).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // expected: per probe, same-IVF-bucket candidates ranked by exact L2²
    // (replicating the engine's fold order: per-subspace sequential fold,
    // then subspace-ordered sum — bit-exact, so compare with ==)
    val buckets = graft.sim.Similarity.ivfAssign(emb, 2)
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = rows.toMap.map { case (id, v) => id -> v.map(_.toDouble) }
    def l2sqExact(x: Seq[Double], y: Seq[Double]): Double =
      (0 until m).map { sub =>
        (sub * sw until (sub + 1) * sw)
          .foldLeft(0.0)((acc, i) => acc + (x(i) - y(i)) * (x(i) - y(i)))
      }.foldLeft(0.0)(_ + _)
    val expected = (0L to 1L).flatMap { p =>
      rows.map(_._1).filter(c => c != p && buckets(c) == buckets(p))
        .map(c => (c, l2sqExact(vecs(p), vecs(c))))
        .sortBy { case (c, d) => (d, c) }
        .zipWithIndex
        .map { case ((c, d), i) => (p, (i + 1).toLong, c, d) }
    }
    assert(got.sortBy(r => (r._1, r._2)).toSeq == expected,
      s"got ${got.toSeq} expected $expected")
    assert(expected.exists(_._4 == 0.0),
      "fixture must contain an exact duplicate (vec4/vec5) proving adist hits 0")
  }

  test("withAmihud: zero-volume bars excluded, mean over non-null count") {
    val s = spark
    import s.implicits._
    val rows = Seq((10.0, 5.0), (11.0, 5.0), (12.0, 0.0), (13.0, 2.0))
    val df = rows.zipWithIndex.map { case ((c, v), i) =>
      ("A", i.toLong, c, c, c, v)
    }.toDF("symbol", "event_id", "high", "low", "close", "volume")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    val a = graft.features.Market.withAmihud(df, n = 2)
      .orderBy("event_id").select("amihud_2").collect()
    assert(a(0).isNullAt(0), "first frame not full")
    val ilq1 = math.abs((11.0 - 10.0) / 10.0) / (11.0 * 5.0) * 1e6
    val ilq3 = math.abs((13.0 - 12.0) / 12.0) / (13.0 * 2.0) * 1e6
    assert(math.abs(a(1).getDouble(0) - ilq1) < 1e-9, "single non-null in frame")
    assert(math.abs(a(2).getDouble(0) - ilq1) < 1e-9,
      "zero-volume bar contributes nothing; prior ratio carries the mean")
    assert(math.abs(a(3).getDouble(0) - ilq3) < 1e-9)
    // all-zero-volume frame: cnt = 0 -> null
    val dead = (0 to 3).map(i => ("D", i.toLong, 5.0, 5.0, 5.0, 0.0))
      .toDF("symbol", "event_id", "high", "low", "close", "volume")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    assert(graft.features.Market.withAmihud(dead, n = 2)
      .select("amihud_2").collect().forall(_.isNullAt(0)))
  }

  test("withRollSpread: bid-ask bounce yields 2*sqrt(-cov); trend yields null") {
    val s = spark
    import s.implicits._
    // alternating 10, 11, 10, 11... -> dp alternates +1/-1, cov = -1,
    // spread = 2
    val bounce = (0 until 10).map { i =>
      ("A", i.toLong, if (i % 2 == 0) 10.0 else 11.0)
    }.toDF("symbol", "event_id", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    val b = graft.features.Market.withRollSpread(bounce, n = 4)
      .orderBy("event_id").select("roll_spread_4").collect()
    assert((0 to 4).forall(b(_).isNullAt(0)), "gate: 4 pairs need 6 rows")
    (5 until 10).foreach { i =>
      assert(math.abs(b(i).getDouble(0) - 2.0) < 1e-9, s"row $i")
    }
    // strict uptrend: dp = +1 constantly -> cov = 0, not negative -> null
    val trend = (0 until 10).map(i => ("T", i.toLong, 10.0 + i))
      .toDF("symbol", "event_id", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    assert(graft.features.Market.withRollSpread(trend, n = 4)
      .select("roll_spread_4").collect().forall(_.isNullAt(0)))
  }

  test("targetEncodeOof: encoding equals the recomputed other-folds mean") {
    val s = spark
    val enc = graft.queries.Core
      .targetEncodeOof(spark, "/root/testdata/sf0.001").collect()
    assert(enc.nonEmpty)
    // recompute per (symbol, fold): mean target over the OTHER folds
    val bySymFold = enc.groupBy(r => (r.getString(1), r.getLong(2)))
      .map { case (k, rs) => k -> (rs.map(_.getLong(3)).sum, rs.length) }
    val bySym = enc.groupBy(_.getString(1))
      .map { case (k, rs) => k -> (rs.map(_.getLong(3)).sum, rs.length) }
    enc.foreach { r =>
      val (fs, fc) = bySymFold((r.getString(1), r.getLong(2)))
      val (ss, sc) = bySym(r.getString(1))
      if (r.isNullAt(4)) assert(sc == fc, s"null row ${r.getLong(0)}")
      else assert(math.abs(r.getDouble(4) - (ss - fs).toDouble / (sc - fc)) < 1e-6,
        s"row ${r.getLong(0)}")
    }
    // no fold sees its own labels: encodings differ across folds for a
    // symbol unless the other-folds means coincide — sanity: >1 distinct
    // encoding overall
    assert(enc.map(_.getDouble(4)).distinct.length > 1)
  }

  test("userCadence: planted gaps — span, telescoping mean, min/max") {
    val s = spark
    import s.implicits._
    // user 1 at t = 0s, 10s, 40s: span 40, gaps {10, 30}, mean 20
    // user 2 at t = 5s: single event -> null gaps
    val ev = Seq((1L, 0L, 1L), (2L, 10L, 1L), (3L, 40L, 1L), (4L, 5L, 2L))
      .toDF("event_id", "t", "user_id")
      .withColumn("ts", timestamp_micros(col("t") * 1000000L))
    val got = graft.analytics.Behavior.userCadence(ev)
      .orderBy("user_id").collect()
    assert(got(0).getLong(1) == 3L && got(0).getDouble(2) == 40.0)
    assert(got(0).getDouble(3) == 20.0)
    assert(got(0).getDouble(4) == 10.0 && got(0).getDouble(5) == 30.0)
    assert(got(1).getLong(1) == 1L && got(1).getDouble(2) == 0.0 &&
      got(1).isNullAt(3) && got(1).isNullAt(4) && got(1).isNullAt(5))
  }

  test("windowTrendOf: exact fit on a linear series, constant-series gating") {
    val s = spark
    import s.implicits._
    // close = 2j + 5 over 1-based row number j: slope 2, r2 1,
    // intercept = value at the frame start = 2(j - n + 1) + 5
    val lin = (1 to 6).map(j => ("A", j.toLong, 2.0 * j + 5))
      .toDF("symbol", "event_id", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    val t = graft.queries.Analytics.windowTrendOf(lin, n = 3)
      .orderBy("event_id")
      .select("trend_slope", "trend_intercept", "trend_r2").collect()
    assert(t(0).isNullAt(0) && t(1).isNullAt(0), "frame gate")
    (2 until 6).foreach { i =>
      val j = i + 1 // 1-based row number
      assert(math.abs(t(i).getDouble(0) - 2.0) < 1e-9, s"slope row $j")
      assert(math.abs(t(i).getDouble(1) - (2.0 * (j - 2) + 5)) < 1e-9,
        s"intercept row $j")
      assert(math.abs(t(i).getDouble(2) - 1.0) < 1e-9, s"r2 row $j")
    }
    // constant series: slope 0, intercept = the constant, r2 null (varY = 0)
    val flat = (1 to 4).map(j => ("F", j.toLong, 7.0))
      .toDF("symbol", "event_id", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
    val f = graft.queries.Analytics.windowTrendOf(flat, n = 3)
      .orderBy("event_id")
      .select("trend_slope", "trend_intercept", "trend_r2").collect()
    assert(f(3).getDouble(0) == 0.0 && f(3).getDouble(1) == 7.0 &&
      f(3).isNullAt(2))
  }

  test("pqEncode: codes cover subspaces, seeds self-assign, qerr sane") {
    val s = spark
    import s.implicits._
    // 12 vectors of dim 8, 2 subspaces x 2 centroids, 2 iters
    val vecs = (0 until 12).map { i =>
      (i.toLong, (0 until 8).map(d => ((i * 7 + d * 3) % 5).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val enc = graft.sim.Similarity.pqEncode(vecs, m = 2, k = 2, iters = 2,
      dims = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // every (vector, subspace) pair gets exactly one code
    assert(enc.length == 24)
    assert(enc.map(e => (e._1, e._2)).distinct.length == 24)
    assert(enc.forall { case (_, m, c, _) => m >= 0 && m < 2 && c >= 0 && c < 2 })
    assert(enc.forall(_._4 >= 0.0), "squared error is non-negative")
    // an exact duplicate of a centroid-seeded vector quantizes identically
    val dup = vecs.union(Seq((100L,
      (0 until 8).map(d => ((0 * 7 + d * 3) % 5).toFloat).toArray))
      .toDF("vec_id", "embedding"))
    val enc2 = graft.sim.Similarity.pqEncode(dup, m = 2, k = 2, iters = 2,
      dims = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val v0 = enc2.filter(_._1 == 0L).map(e => (e._2, e._3, e._4)).sortBy(_._1)
    val v100 = enc2.filter(_._1 == 100L).map(e => (e._2, e._3, e._4)).sortBy(_._1)
    assert(v0.toSeq == v100.toSeq, "identical vectors get identical codes+qerr")
  }

  test("seasonalityProfile groups by hour with per-group return means") {
    val s = spark
    // smoke over the shared sf0.001 tables: closed group keys, exact
    // count/mean consistency via a recomputed aggregate
    val prof = graft.queries.Analytics
      .seasonalityProfile(spark, "/root/testdata/sf0.001")
    val rows = prof.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 23))
    // |avg_ret| <= avg_abs_ret row-for-row (triangle inequality on means)
    assert(rows.forall(r => math.abs(r.getDouble(3)) <= r.getDouble(4) + 1e-9))
  }

  test("hashFeatures: bucket range, per-doc mass conservation, sign bounds") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "alpha beta alpha gamma"), (2L, "beta beta"))
      .toDF("doc_id", "text")
    val hf = graft.text.TextStats.hashFeatures(docs, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(hf.forall { case (_, b, _, _) => b >= 0 && b < 8 }, "bucket range")
    // token mass is conserved per doc regardless of collisions
    assert(hf.filter(_._1 == 1L).map(_._3).sum == 4L)
    assert(hf.filter(_._1 == 2L).map(_._3).sum == 2L)
    // signed count bounded by the raw count; equal-token rows fully aligned
    assert(hf.forall { case (_, _, tf, st) => math.abs(st) <= tf })
    // the same token always lands in the same bucket with the same sign:
    // doc 2 is two copies of one token -> one row, |signed| == tf == 2
    val d2 = hf.filter(_._1 == 2L)
    assert(d2.length == 1 && d2.head._3 == 2L && math.abs(d2.head._4) == 2L)
  }

  test("assocPairs: planted co-occurrence counts, support and lift") {
    val s = spark
    import s.implicits._
    // u1 {a,b,c}, u2 {a,b}, u3 {a}
    val ev = Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"), (4L, 1L, "a"),
      (5L, 2L, "a"), (6L, 2L, "b"), (7L, 3L, "a"))
      .toDF("event_id", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("event_id") * 1000000L))
    val got = graft.analytics.Behavior.assocPairs(ev)
      .orderBy("type_a", "type_b")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    def ~=(x: Double, y: Double) = math.abs(x - y) < 1e-12
    assert(got.map(t => (t._1, t._2, t._3)) ==
      Seq(("a", "b", 2L), ("a", "c", 1L), ("b", "c", 1L)))
    // n_users=3, n_a=3, n_b=2, n_c=1
    assert(~=(got(0)._4, 2.0 / 3) && ~=(got(0)._5, 1.0))   // ab
    assert(~=(got(1)._4, 1.0 / 3) && ~=(got(1)._5, 1.0))   // ac
    assert(~=(got(2)._4, 1.0 / 3) && ~=(got(2)._5, 1.5))   // bc
  }

  test("transitionMatrix: pair counts and row-normalized probabilities") {
    val s = spark
    import s.implicits._
    // user 1: a,b,a,b -> a->b x2, b->a x1; user 2: a,a,c -> a->a, a->c
    // user 2's last two events share a ts: event_id breaks the tie (a before c)
    val ev = Seq(
      (1L, 1L, 1L, "a"), (2L, 2L, 1L, "b"), (3L, 3L, 1L, "a"), (4L, 4L, 1L, "b"),
      (5L, 1L, 2L, "a"), (6L, 2L, 2L, "a"), (7L, 2L, 2L, "c"))
      .toDF("event_id", "t", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("t") * 1000000L))
    val got = graft.analytics.Behavior.transitionMatrix(ev)
      .orderBy("prev_type", "next_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == Seq(
      ("a", "a", 1L, 0.25), ("a", "b", 2L, 0.5), ("a", "c", 1L, 0.25),
      ("b", "a", 1L, 1.0)))
  }

  test("classBalance composite rank: one global numbering == per-class windows") {
    val s = spark
    import s.implicits._
    // the classBalance construction on a planted frame: global numbering
    // keyed by target*2^32 + int(md5[0:8]) ordered (target, md5, event_id),
    // minus the class start offset, must equal the per-class window rank
    val t = (1 to 200).map(i => (i.toLong, (i % 3 == 0).compareTo(false).toLong))
      .toDF("event_id", "target")
    val keyed = t
      .withColumn("_h", md5(col("event_id").cast("string")))
      .withColumn("_hk", expr("CAST(conv(substring(_h, 1, 8), 16, 10) AS BIGINT)"))
    val ranked = Ranking.withGlobalRowNumber(
      keyed, col("target") * lit(4294967296L) + col("_hk"),
      Seq(col("target"), col("_h"), col("event_id")))._1
    val wOff = Window.orderBy("target")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = t.groupBy("target").agg(count(lit(1)).as("cnt"))
      .select(col("target"),
        coalesce(sum(col("cnt")).over(wOff), lit(0L)).as("class_offset"))
    val viaComposite = ranked.join(off, Seq("target"))
      .select(col("event_id"), (col("rn") - col("class_offset")).as("crn"))
    val wCls = Window.partitionBy("target")
      .orderBy(md5(col("event_id").cast("string")), col("event_id"))
    val viaWindow = t.select(col("event_id"),
      row_number().over(wCls).cast("long").as("wrn"))
    val joined = viaComposite.join(viaWindow, "event_id")
    assert(joined.filter(col("crn") =!= col("wrn")).count() == 0)
    assert(joined.count() == 200)
  }

  test("xsecRank: planted cross-sections — ties, sparse symbols, zero-variance, singleton") {
    val s = spark
    import s.implicits._
    val hourly = Seq(
      // bucket 0: baseline closes (no rets emitted)
      ("A", 0L, 10.0), ("B", 0L, 20.0), ("C", 0L, 40.0), ("D", 0L, 5.0),
      // bucket 1: A,B tie at ret=0.1; C at -0.25; D absent (sparse)
      ("A", 1L, 11.0), ("B", 1L, 22.0), ("C", 1L, 30.0),
      // bucket 2: A,B,C flat (ret 0); D returns vs bucket 0 (ret 1.0)
      ("A", 2L, 11.0), ("B", 2L, 22.0), ("C", 2L, 30.0), ("D", 2L, 10.0),
      // bucket 3: all flat -> zero cross-sectional variance
      ("A", 3L, 11.0), ("B", 3L, 22.0), ("C", 3L, 30.0), ("D", 3L, 10.0),
      // E alone in buckets 4/5 -> singleton cross-section at 5
      ("E", 4L, 10.0), ("E", 5L, 12.0)
    ).toDF("symbol", "bucket", "close")
    val got = graft.analytics.CrossSection.xsecRank(hourly)
      .orderBy("bucket", "symbol")
      .select("symbol", "bucket", "ret", "xsec_n", "xsec_rank",
        "xsec_quintile", "xsec_pct", "xsec_z")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getInt(4), r.getInt(5),
        if (r.isNullAt(6)) null else r.getDouble(6),
        r.isNullAt(7)))
    // bucket 1: tie at 0.1 broken by symbol (A=1, B=2); pct spans [0, 1]
    val b1 = got.filter(_._2 == 1L).toSeq
    assert(b1 == Seq(
      ("A", 1L, 0.1, 3L, 1, 1, 0.0, false),
      ("B", 1L, 0.1, 3L, 2, 2, 0.5, false),
      ("C", 1L, -0.25, 3L, 3, 3, 1.0, false)))
    // bucket 2: sparse D rejoins with ret vs its LAST PRESENT bucket (0)
    val b2 = got.filter(_._2 == 2L).toSeq
    assert(b2 == Seq(
      ("A", 2L, 0.0, 4L, 2, 2, 1.0 / 3, false),
      ("B", 2L, 0.0, 4L, 3, 3, 2.0 / 3, false),
      ("C", 2L, 0.0, 4L, 4, 4, 1.0, false),
      ("D", 2L, 1.0, 4L, 1, 1, 0.0, false)))
    // z-scores in bucket 2: mean 0.25, var 0.1875; flat symbols share one z
    val z2 = graft.analytics.CrossSection.xsecRank(hourly)
      .filter(col("bucket") === 2L).orderBy("symbol")
      .select("xsec_z").collect().map(_.getDouble(0))
    val sd = math.sqrt(0.1875)
    assert(z2.take(3).forall(z => math.abs(z - (0.0 - 0.25) / sd) < 1e-12))
    assert(math.abs(z2(3) - (1.0 - 0.25) / sd) < 1e-12)
    // bucket 3: zero variance -> z null for every member, ranks by symbol
    val b3 = got.filter(_._2 == 3L).toSeq
    assert(b3.map(t => (t._1, t._5, t._8)) ==
      Seq(("A", 1, true), ("B", 2, true), ("C", 3, true), ("D", 4, true)))
    // bucket 5: singleton -> rank 1, pct null, z null
    assert(got.filter(_._2 == 5L).toSeq ==
      Seq(("E", 5L, 0.2, 1L, 1, 1, null, true)))
  }

  test("topPaths: sliding 3-step windows per user, cross-user counting, top-k plan") {
    val s = spark
    import s.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // user 1: a,b,c,a -> paths a>b>c, b>c>a; user 2: a,b,c -> a>b>c
    // user 3: a,b (too short -> no complete path)
    val ev = Seq(
      (1L, 1L, ts(1), "a"), (2L, 1L, ts(2), "b"), (3L, 1L, ts(3), "c"),
      (4L, 1L, ts(4), "a"),
      (5L, 2L, ts(1), "a"), (6L, 2L, ts(2), "b"), (7L, 2L, ts(3), "c"),
      (8L, 3L, ts(1), "a"), (9L, 3L, ts(2), "b")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = graft.analytics.Behavior.topPaths(ev)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a>b>c", 2L), ("b>c>a", 1L)))
    // (top-k plan shape is guarded in PlanSpec over the parquet-backed
    // query — on a tiny LocalRelation the optimizer proves maxRows <= k
    // and eliminates the limit, so no TakeOrderedAndProject appears here)
  }

  test("Cusum: hand-computed recursion, null transparency, SQL registration") {
    val s = spark
    import s.implicits._
    // k=1: series 3, -1, 4, null, -10, 2
    //   S+ : max(0,0+2)=2, max(0,2-2)=0, max(0,0+3)=3, 3 (null), max(0,3-11)=0, max(0,0+1)=1
    val df = Seq(
      (1L, Some(3.0)), (2L, Some(-1.0)), (3L, Some(4.0)),
      (4L, None), (5L, Some(-10.0)), (6L, Some(2.0))
    ).toDF("i", "x")
    val got = df.withColumn("s", graft.expr.Cusum.cusumOver(
        col("x"), 1.0, Seq(lit(1)), Seq(col("i"))))
      .orderBy("i").select("s").collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(2.0, 0.0, 3.0, 3.0, 0.0, 1.0))
    // SQL registration via GraftExtensions
    df.createOrReplaceTempView("cusum_in")
    val viaSql = s.sql(
      "SELECT cusum(x, 1.0) OVER (ORDER BY i) AS s FROM cusum_in ORDER BY i")
      .collect().map(_.getDouble(0))
    assert(viaSql.toSeq == got.toSeq)
    // constructor guard: negative / non-finite drift must throw
    intercept[IllegalArgumentException] {
      graft.expr.Cusum(org.apache.spark.sql.graftbridge.ColumnBridge
        .expression(col("x")), -1.0)
    }
  }

  test("asofJoin tolerance: boundary-inclusive gate nulls stale matches, no-match stays null") {
    val s = spark
    import s.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val left = Seq(
      (1L, 10L, ts(100)), // prior error at 95 (gap 5s) -> match
      (2L, 10L, ts(500)), // last error still 95 (gap 405s > 60) -> null
      (3L, 10L, ts(155)), // gap exactly 60s -> boundary-inclusive match
      (4L, 20L, ts(100))  // user with no errors -> null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq((90L, 10L, ts(95))).toDF("event_id", "user_id", "ts")
    val got = graft.analytics.Relational.asofJoin(left, right,
        key = "user_id", leftTime = "ts", rightTime = "ts", tie = "event_id",
        valueCols = Seq("event_id"), toleranceMicros = Some(60L * 1000000L))
      .orderBy("event_id")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(got.toSeq == Seq(
      (1L, Some(90L)), (2L, None), (3L, Some(90L)), (4L, None)))
    // tolerance=None must stay byte-compatible with the original operator
    val untol = graft.analytics.Relational.asofJoin(left, right,
        key = "user_id", leftTime = "ts", rightTime = "ts", tie = "event_id",
        valueCols = Seq("event_id"))
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(untol.toSeq == Seq(
      (1L, Some(90L)), (2L, Some(90L)), (3L, Some(90L)), (4L, None)))
  }

  test("weightedByHash: weight-proportional inclusion, partition-invariant, exact k, top-k plan") {
    val s = spark
    import s.implicits._
    // 1000 heavy (w=10) + 1000 light (w=1) rows: heavy inclusion odds are
    // ~10x, so a 200-row draw should be dominated by heavy rows
    val rows = (0L until 2000L).map(i =>
      (i, if (i < 1000) 10.0 else 1.0)).toDF("id", "w")
    val picked = graft.analytics.Sampling
      .weightedByHash(rows, col("id"), col("w"), 200)
      .collect().map(_.getLong(0))
    assert(picked.length == 200 && picked.distinct.length == 200)
    val heavy = picked.count(_ < 1000L)
    assert(heavy >= 160 && heavy <= 199,
      s"heavy-row share $heavy/200 not ~10x-biased") // E[heavy] ≈ 186
    // deterministic under repartitioning and row order
    val shuffled = graft.analytics.Sampling
      .weightedByHash(rows.orderBy(col("id").desc).repartition(7), col("id"), col("w"), 200)
      .collect().map(_.getLong(0))
    assert(shuffled.sorted.toSeq == picked.sorted.toSeq)
    // the draw is ONE TakeOrderedAndProject — no shuffle of the data
    val plan = graft.analytics.Sampling.weightedByHash(rows, col("id"), col("w"), 200)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("triangleCounts: degree orientation finds triangles id-order would drop") {
    val s = spark
    import s.implicits._
    // triangle {1,2,3} + {1,2,4}; hub 1 has the HIGHEST degree, so every
    // triangle edge is oriented against id order (3->2->1) — an id-ordered
    // wedge join finds zero of these, the (deg, node) orientation finds both
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L),
      (1L, 5L), (1L, 6L), (2L, 7L)
    ).toDF("a", "b")
    val got = graft.analytics.Graph.triangleCounts(edges)
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 1L), (4L, 1L)))
    // no cartesian/nested-loop anywhere in the plan — all equi-joins
    val plan = graft.analytics.Graph.triangleCounts(edges)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("bm25: planted tf/df/dl against the closed-form score; zero-hit docs filtered") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a a b x"), (2L, "a x y z"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val got = graft.text.TextStats.bm25(docs, query = Seq("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    // N=3, avgdl=4 (all dl=4), df_a=2, df_b=1
    val idfA = math.log((3.0 - 2 + 0.5) / (2 + 0.5) + 1.0)
    val idfB = math.log((3.0 - 1 + 0.5) / (1 + 0.5) + 1.0)
    // dl=avgdl -> denom = tf + k1; tf=2: 2.2*2/3.2; tf=1: 2.2/2.2 = 1
    val s1 = idfA * (2 * 2.2) / (2 + 1.2) + idfB
    val s2 = idfA
    assert(got.length == 2)                       // doc 3 has no query term
    assert(got(0)._1 == 1L && got(0)._3 == 2)
    assert(got(1)._1 == 2L && got(1)._3 == 1)
    assert(math.abs(got(0)._4 - s1) < 1e-9, s"got ${got(0)._4}, want $s1")
    assert(math.abs(got(1)._4 - s2) < 1e-9)
  }

  test("invertedIndex: exact cf/df/min/max, posting sample capped and sorted") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "b"))
      .toDF("doc_id", "text")
    val got = graft.text.TextStats.invertedIndex(docs, sampleK = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5)))
    assert(got.toSeq == Seq(
      ("a", 2L, 1L, 1L, 1L, "1"),
      ("b", 3L, 3L, 1L, 3L, "1|2"),   // df exact (3) though sample capped at 2
      ("c", 1L, 1L, 2L, 2L, "2")))
  }

  test("bpe: planted word counts drive merge order; early exhaustion stops the loop") {
    val s = spark
    import s.implicits._
    // words: aa x3, ab x1, b x1 -> round 1 merges (a,a) freq 3; round 2
    // merges (a,b) freq 1; round 3 finds no pairs -> stops at 2 merges
    val docs = Seq((1L, "aa ab"), (2L, "aa aa b")).toDF("doc_id", "text")
    val got = graft.text.Bpe.learnMerges(docs, merges = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, "a", "a", "aa", 3L),
      (2L, "a", "b", "ab", 1L)))
  }

  test("bpe: greedy left-to-right non-overlapping fold ('bbb' -> [bb, b], then bbb)") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "bbb bbb")).toDF("doc_id", "text")
    val got = graft.text.Bpe.learnMerges(docs, merges = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    // "bbb" has pairs (b,b)x2 per word; the fold merges only the FIRST,
    // leaving [bb, b] — so round 2 learns (bb, b), not (b, bb)
    assert(got.toSeq == Seq(
      (1L, "b", "b", "bb", 4L),
      (2L, "bb", "b", "bbb", 2L)))
  }

  test("bpe: 120-merge run matches driver brute-force; incremental rounds touch shrinking slivers") {
    val s = spark
    import s.implicits._
    // A corpus rich enough to sustain 120 merges: 400 random words over a
    // 6-letter alphabet with zipf-ish counts, plus repeated stems so early
    // merges cover many words and late merges few.
    val rnd = new scala.util.Random(7)
    val alpha = "abcdef"
    val words = (0 until 400).map { i =>
      val len = 3 + rnd.nextInt(8)
      val w = (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val cnt = 1 + 400 / (i + 1) // zipf-ish
      (w, cnt)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    val docs = words.zipWithIndex.map { case ((w, c), i) =>
      (i.toLong, Array.fill(c)(w).mkString(" "))
    }.toDF("doc_id", "text")

    // Driver brute-force BPE over the word-type table: full pair recount
    // each round, same greedy fold and (freq desc, a, b) tie-break.
    def brute(wt: Map[String, Long], merges: Int): Seq[(String, String, Long)] = {
      var vocab: Map[Vector[String], Long] =
        wt.map { case (w, c) => w.map(_.toString).toVector -> c }
      val out = Seq.newBuilder[(String, String, Long)]
      var r = 0
      var done = false
      while (r < merges && !done) {
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        vocab.foreach { case (sym, c) =>
          sym.sliding(2).filter(_.size == 2).foreach { p =>
            counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + c
          }
        }
        if (counts.isEmpty) done = true
        else {
          val ((a, b), f) = counts.minBy { case ((a, b), f) => (-f, a, b) }
          out += ((a, b, f))
          r += 1
          vocab = vocab.toSeq.map { case (sym, c) =>
            val acc = Vector.newBuilder[String]
            var last: String = null
            sym.foreach { x =>
              if (last == a && x == b) { // close the pair
                val v = acc.result(); acc.clear()
                v.dropRight(1).foreach(acc += _); acc += (a + b); last = a + b
              } else { acc += x; last = x }
            }
            acc.result() -> c
          }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        }
      }
      out.result()
    }

    val wt = words.map { case (w, c) => w -> c.toLong }.toMap
    val expected = brute(wt, 120)
    assert(expected.size == 120, s"corpus exhausted at ${expected.size} merges")

    val (table, _, touched) =
      graft.text.Bpe.runWithStats(docs, 120, collectStats = true)
    val got = table.orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(got == expected, {
      val firstDiff = got.zip(expected).indexWhere { case (g, e) => g != e }
      if (firstDiff < 0)
        s"size mismatch: got ${got.size} merges (${got.takeRight(3)}), " +
          s"expected ${expected.size} (${expected.slice(got.size - 1, got.size + 2)})"
      else
        s"first divergence at rank ${firstDiff + 1}: got ${got(firstDiff)}, " +
          s"expected ${expected(firstDiff)}"
    })

    // Incremental claim: each round re-segments ONLY the words containing
    // the winning pair. Late rounds must touch slivers: the mean touched
    // count over the last 40 rounds far below the first round's, and the
    // total touched far below merges x vocabSize (the full-recount cost).
    val vocabSize = wt.size.toLong
    assert(touched.size == 120)
    assert(touched.forall(_ >= 1L))
    assert(touched.forall(_ <= vocabSize))
    val early = touched.take(10).sum.toDouble / 10
    val late = touched.takeRight(40).sum.toDouble / 40
    assert(late < early,
      s"late rounds ($late) should touch fewer words than early ($early)")
    assert(touched.sum < 120L * vocabSize / 5,
      s"total touched ${touched.sum} not a sliver of ${120L * vocabSize}")
  }

  test("userTypeEntropy: uniform 2-type user = 1 bit, single-type user = 0") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (1L, "click"), (1L, "click"), (1L, "view"), (1L, "view"),
      (2L, "click"),
      (3L, "click"), (3L, "view"), (3L, "view"), (3L, "view"))
      .toDF("user_id", "event_type")
    val got = graft.analytics.Behavior.userTypeEntropy(ev)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got(0) == ((1L, 4L, 2L, 1.0)))
    assert(got(1)._1 == 2L && got(1)._4 == 0.0)
    val h3 = -(0.25 * math.log(0.25) + 0.75 * math.log(0.75)) / math.log(2.0)
    assert(math.abs(got(2)._4 - h3) < 1e-12)
  }

  test("bpe segmented: per-word subword counts reflect the learned merges") {
    val s = spark
    import s.implicits._
    // merges learned: (a,a)->aa then (a,b)->ab; so aa->1 subword,
    // ab->1, b->1, and the unmerged 'ba' stays 2 chars
    val docs = Seq((1L, "aa ab"), (2L, "aa aa b ba")).toDF("doc_id", "text")
    val got = graft.text.Bpe.segmented(docs, merges = 2)
      .orderBy("word").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      ("aa", 3L, 1L), ("ab", 1L, 1L), ("b", 1L, 1L), ("ba", 1L, 2L)))
  }

  test("bigramLogprob: planted counts against add-one-smoothed conditionals; short docs excluded") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b"), (2L, "a b a"), (3L, "x"))
      .toDF("doc_id", "text")
    // unigrams a=3 b=2 x=1, V=3; pairs (a,b)=2, (b,a)=1
    // nlp(a,b) = -log2(3/6) = 1; nlp(b,a) = -log2(2/5)
    val got = graft.text.TextStats.bigramLogprob(docs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nlpBA = -math.log(2.0 / 5) / math.log(2.0)
    assert(got.length == 2)                       // doc 3 has no bigram
    assert(got(0)._1 == 1L && got(0)._2 == 1L)
    assert(math.abs(got(0)._3 - 1.0) < 1e-12)
    assert(got(1)._1 == 2L && got(1)._2 == 2L)
    assert(math.abs(got(1)._3 - (1.0 + nlpBA) / 2) < 1e-12)
  }

  test("collocations: planted bigram/unigram counts against the closed-form PMI; minCount thins") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a b c"))
      .toDF("doc_id", "text")
    // bigrams: (a,b)x3, (b,a)x1, (b,c)x1 -> only (a,b) passes minCount=2
    // unigrams: a=3, b=3, c=1; t_un=7, t_bi=5
    val got = graft.text.TextStats.collocations(docs, minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.length == 1)
    val (t1, t2, np, ca, cb, pmi) = got(0)
    assert((t1, t2, np, ca, cb) == (("a", "b", 3L, 3L, 3L)))
    val want = math.log((3.0 / 5) / ((3.0 / 7) * (3.0 / 7)))
    assert(math.abs(pmi - want) < 1e-9, s"got $pmi, want $want")
  }

  test("bloomDecontam: exact dup always a candidate (no false negatives); tiny m yields accounted FPs") {
    val s = spark
    import s.implicits._
    val train = Seq(
      (1L, "Hello,   World!"),          // normalizes to eval doc 10's text
      (2L, "completely different text"),
      (3L, "another unrelated doc"))
      .toDF("doc_id", "text")
    val eval = Seq((10L, "hello world"), (11L, "benchmark question two"))
      .toDF("doc_id", "text")
    // default m: the normalized duplicate MUST be flagged and confirmed
    val big = graft.text.Dedup.bloomDecontam(train, eval)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(big.get(1L).contains(1), s"dup doc must be confirmed, got $big")
    // m=2: both bits saturate -> every train doc becomes a candidate, and
    // the non-matching ones surface as confirmed=0 false positives
    val tiny = graft.text.Dedup.bloomDecontam(train, eval, m = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(tiny.get(1L).contains(1))
    assert(tiny.exists(_._2 == 0), s"expected FP rows at m=2, got $tiny")
  }

  test("windowSkew: symmetric two-point series has skew 0, kurtosis -2") {
    // alternating a/b: every full 20-frame holds 10 of each -> perfectly
    // symmetric two-point distribution (m3 = 0, m4/m2^2 = 1)
    val close = (0 until 50).map(i => if (i % 2 == 0) 100.0 else 110.0)
    val out = graft.queries.Analytics.windowSkewOf(barsOf(close), 20)
      .collect()
    val vals = out.sortBy(_.getLong(1)).map(r =>
      if (r.isNullAt(2)) None else Some((r.getDouble(2), r.getDouble(3))))
    assert(vals.take(19).forall(_.isEmpty) && vals.drop(19).forall(_.isDefined))
    vals.flatten.foreach { case (sk, ku) =>
      assert(math.abs(sk) < 1e-6, s"symmetric series skew must be 0, got $sk")
      assert(math.abs(ku - (-2.0)) < 1e-6, s"two-point kurtosis is -2, got $ku")
    }
  }

  test("windowHurst: trending series persistent (H near 1), alternating anti-persistent") {
    val n = 32
    val trend = graft.queries.Analytics.windowHurstOf(
      barsOf((1 to 80).map(i => 100.0 + i)), n).collect()
      .flatMap(r => if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    val alt = graft.queries.Analytics.windowHurstOf(
      barsOf((1 to 80).map(i => if (i % 2 == 0) 100.0 else 102.0)), n).collect()
      .flatMap(r => if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    assert(trend.nonEmpty && alt.nonEmpty)
    // single-scale R/S at n=32 carries finite-size bias, so a pure trend
    // reads ~0.76 rather than 1.0 — the ordering vs alternation is the
    // scale-free invariant
    trend.foreach(h => assert(h > 0.7, s"pure trend should be persistent, H=$h"))
    alt.foreach(h => assert(h < 0.3, s"alternation should be anti-persistent, H=$h"))
    assert(trend.min > alt.max)
  }

  test("eventsMi: per-type contributions sum to a non-negative total MI") {
    val rows = graft.queries.Analytics.eventsMi(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getDouble(3)).sum
    assert(total >= -1e-9, s"MI must be non-negative, got $total")
  }

  test("ThresholdReset: hand-computed bucket ids, closing row stays in its bucket") {
    import graft.features.Frames
    // closes 1..4 then back down: ticks null,+1,+1,+1,-1,-1,-1,-1; T=2
    // buckets: 0,0,0 (closes at the 2nd +1), 1,1,1,1 (closes at -2), 2
    val df = barsOf(Seq(1.0, 2, 3, 4, 3, 2, 1, 0))
    val tick = signum(col("close") - lag(col("close"), 1).over(Frames.bySymbol))
    val got = df.select(col("event_id"), tick.as("_t"))
      .select(col("event_id"),
        graft.expr.ThresholdReset.over(col("_t"), 2.0,
          Seq(lit(1)), Seq(col("event_id"))).as("bar_id"))
      .orderBy("event_id").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(0L, 0L, 0L, 1L, 1L, 1L, 1L, 2L), s"got $got")
  }

  test("driftJs: bounded [0, ln 2], identical slices = 0") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.Analytics.driftJs(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val js = r.getDouble(1)
      assert(js >= 0.0 && js <= math.log(2.0) + 1e-9,
        s"JS divergence out of [0, ln2]: $js")
    }
    // self-divergence: bin each slice identically -> every term is 0
    val ev = graft.source.Bars.readEvents(spark, dir)
      .select(col("event_type"), col("value"), col("event_id"))
    val p = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(p.count() > 0) // sanity: types present so the 0-bound above bites
  }

  test("abtestZtest: denominators sum to the user count, z sign follows rates") {
    val dir = "/root/testdata/sf0.001"
    val ev = graft.source.Bars.readEvents(spark, dir)
    val nUsers = ev.select("user_id").distinct().count()
    val rows = graft.queries.Analytics.abtestZtest(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (xa, na, xb, nb) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(na + nb == nUsers, "arm denominators must partition the users")
      assert(xa <= na && xb <= nb, "conversions cannot exceed the arm size")
      if (!r.isNullAt(7)) {
        val z = r.getDouble(7)
        val (ra, rb) = (r.getDouble(5), r.getDouble(6))
        if (ra > rb) assert(z > 0, s"z must be positive when rate_a > rate_b")
        if (ra < rb) assert(z < 0, s"z must be negative when rate_a < rate_b")
      }
    }
  }

  test("userChurn: recency/tenure non-negative, churn flag matches the integer compare") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.Analytics.userChurn(spark, dir).collect()
    assert(rows.nonEmpty)
    val spanRows = graft.source.Bars.readEvents(spark, dir)
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).collect()(0)
    val span = spanRows.getLong(1) - spanRows.getLong(0)
    rows.foreach { r =>
      val (tenure, recency, churned) = (r.getLong(3), r.getLong(4), r.getInt(5))
      assert(tenure >= 0 && recency >= 0)
      assert((recency * 4 > span) == (churned == 1),
        "churn flag must equal the span-relative integer compare")
    }
  }

  test("lexicalDiversity: planted doc — counts, ttr, hapax exact") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b a c"), (2L, "x x x x")).toDF("doc_id", "text")
    val got = graft.text.TextStats.lexicalDiversity(docs)
      .orderBy("doc_id").collect()
    // doc 1: 4 tokens, 3 types (a,b,c), 2 hapax (b,c)
    assert(got(0).getLong(1) == 4 && got(0).getLong(2) == 3 && got(0).getLong(3) == 2)
    assert(math.abs(got(0).getDouble(4) - 0.75) < 1e-12)        // ttr
    assert(math.abs(got(0).getDouble(5) - 3.0 / 2.0) < 1e-12)   // 3/sqrt(4)
    assert(math.abs(got(0).getDouble(6) - 2.0 / 3.0) < 1e-12)   // hapax
    // doc 2: 4 tokens, 1 type, 0 hapax
    assert(got(1).getLong(1) == 4 && got(1).getLong(2) == 1 && got(1).getLong(3) == 0)
    assert(math.abs(got(1).getDouble(4) - 0.25) < 1e-12)
  }

  test("zipfFit: exact power-law counts recover the planted slope") {
    val s = spark
    import s.implicits._
    // counts c_r = 1200 / r at ranks 1..4 -> ln c = ln 1200 - 1·ln r,
    // a perfect slope -1 fit (1200 divides exactly at every rank)
    val words = Seq("w1" -> 1200, "w2" -> 600, "w3" -> 400, "w4" -> 300)
    val text = words.flatMap { case (w, c) => Seq.fill(c)(w) }.mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val row = graft.text.TextStats.zipfFit(docs).collect()(0)
    assert(row.getLong(0) == 4)
    assert(math.abs(row.getDouble(1) - (-1.0)) < 1e-9,
      s"planted slope -1, got ${row.getDouble(1)}")
    assert(math.abs(row.getDouble(2) - math.log(1200.0)) < 1e-9)
  }

  test("windowStreak: gaps-and-islands run lengths on a planted series") {
    val got = graft.queries.Analytics
      .windowStreakOf(barsOf(Seq(1.0, 2.0, 3.0, 2.0, 2.0, 5.0)))
      .orderBy("event_id").collect()
      .map(r => (Option(r.getAs[String]("direction")).getOrElse("-"),
        r.getAs[Long]("streak_len")))
    assert(got.toSeq == Seq(("-", 1L), ("up", 1L), ("up", 2L), ("down", 1L),
      ("flat", 1L), ("up", 1L)))
  }

  test("nearestJoin: backward / forward / equidistant / no-match cases") {
    val s = spark
    import s.implicits._
    def t(sec: Long) = sec * 1000000L
    def frame(rows: Seq[(Long, Long, Long)]) =
      rows.toDF("event_id", "user_id", "ts_us")
        .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
    val left = frame(Seq((1L, 1L, t(10)), (2L, 1L, t(100)), (3L, 2L, t(50)),
      (4L, 3L, t(7)), (5L, 4L, t(100))))
    val right = frame(Seq((11L, 1L, t(8)), (12L, 1L, t(11)), (13L, 2L, t(50)),
      (14L, 4L, t(90)), (15L, 4L, t(110))))
    val got = graft.analytics.Relational
      .nearestJoin(left, right, "user_id", "ts", "ts", "event_id",
        Seq("event_id"))
      .orderBy("event_id").collect()
      .map(r => (r.getAs[Long]("event_id"),
        Option(r.getAs[java.lang.Long]("nearest_dt_us")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("nearest_event_id")).map(_.toLong)))
    assert(got.toSeq == Seq(
      (1L, Some(t(1)), Some(12L)),   // forward 1 s beats backward 2 s
      (2L, Some(-t(89)), Some(12L)), // nothing forward → backward
      (3L, Some(0L), Some(13L)),     // same-instant match, Δt = 0
      (4L, None, None),              // user with no right rows
      (5L, Some(-t(10)), Some(14L)))) // equidistant → backward wins
  }

  test("mlAuc equals the brute pairwise AUC under the same tie-break") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.Core.mlAuc(spark, dir).collect()(0)
    val w = graft.features.Frames.bySymbol
    val rows = graft.queries.Core.bars(spark, dir).select(col("event_id"),
        (col("close") - lag(col("close"), 5).over(w)).as("score"),
        (lead(col("close"), 1).over(w) > col("close")).cast("int").as("label"))
      .filter(col("score").isNotNull && col("label").isNotNull)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    // total order (score, event_id) → tie-broken ranks, exactly the
    // ordering both the Spark query and the oracle use
    val ranked = rows.sortBy(r => (r._2, r._1)).zipWithIndex
      .map { case ((_, _, label), i) => (label, i + 1L) }
    val pos = ranked.filter(_._1 == 1)
    val npos = pos.length.toLong
    val nneg = ranked.length - npos
    val u = pos.map(_._2).sum - npos * (npos + 1) / 2
    assert(got.getAs[Long]("npos") == npos)
    assert(got.getAs[Long]("nneg") == nneg)
    assert(got.getAs[Long]("u_stat") == u)
    val auc = u.toDouble / (npos.toDouble * nneg.toDouble)
    assert(math.abs(got.getAs[Double]("auc") - auc) < 1e-6)
  }

  test("hourlyStationarity: mean-reverting series gives strongly negative t; near-walk does not") {
    val s = spark
    import s.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def series(counts: Seq[Int]) = counts.zipWithIndex.flatMap { case (c, t) =>
      (0 until c).map(i => (new java.sql.Timestamp(base + t * 3600000L + i), 0L))
    }.toDF("ts", "pad")
    // hard mean reversion: alternating 80/120 with a small deterministic
    // perturbation so the fit has nonzero residuals (a perfect fit would
    // degenerate the t-stat's zero SSR)
    val counts = (0 until 60).map(t => (if (t % 2 == 0) 80 else 120) + t % 3)
    val rAlt = graft.analytics.TimeWindows
      .hourlyStationarity(series(counts)).collect()(0)
    assert(rAlt.getAs[Long]("n_obs") == 59L)
    assert(rAlt.getAs[Double]("df_t") < -5.0, "alternation is loudly stationary")
    // monotone trend: dy constant, uncorrelated with level after intercept
    val walk = series((0 until 60).map(t => 100 + t))
    val rWalk = graft.analytics.TimeWindows.hourlyStationarity(walk).collect()(0)
    assert(math.abs(rWalk.getAs[Double]("rho")) < 1e-6,
      "constant drift loads on the intercept, not the level")
    // brute OLS equality on the alternating series
    val y = counts.map(_.toDouble)
    val x = y.dropRight(1); val dy = y.tail.zip(x).map { case (a, b) => a - b }
    val n = x.length.toDouble
    val rho = (n * x.zip(dy).map(p => p._1 * p._2).sum - x.sum * dy.sum) /
      (n * x.map(v => v * v).sum - x.sum * x.sum)
    assert(math.abs(rAlt.getAs[Double]("rho") - rho) < 1e-9)
  }

  test("heapsFit: brute OLS equality on a planted corpus; saturated vocab drives beta down") {
    val s = spark
    import s.implicits._
    // growing-vocab corpus: doc k introduces k fresh types
    val grow = (1 to 12).map { k =>
      (k.toLong, ((1 to k).map(i => s"w${k}_$i") ++ Seq("the", "a")).mkString(" "))
    }.toDF("doc_id", "text")
    val g = graft.text.TextStats.heapsFit(grow).collect()(0)
    // brute reference
    var seen = Set.empty[String]; var cumTok = 0L
    val pts = (1 to 12).map { k =>
      val toks = ((1 to k).map(i => s"w${k}_$i") ++ Seq("the", "a"))
      cumTok += toks.length; seen ++= toks
      (math.log(cumTok.toDouble), math.log(seen.size.toDouble))
    }
    val n = pts.length.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(g.getAs[Long]("n_points") == 12L)
    assert(math.abs(g.getAs[Double]("heaps_beta") - beta) < 1e-9)
    assert(math.abs(g.getAs[Double]("heaps_ln_k") - (sy - beta * sx) / n) < 1e-9)
    // saturated corpus: same 3 types forever → beta near 0, far below grow's
    val flat = (1 to 12).map(k => (k.toLong, "the a of the a of")).toDF("doc_id", "text")
    val f = graft.text.TextStats.heapsFit(flat).collect()(0)
    assert(f.getAs[Double]("heaps_beta") < 0.1)
    assert(g.getAs[Double]("heaps_beta") > f.getAs[Double]("heaps_beta") + 0.3)
  }

  test("userPareto: monotone share, exact cuts at sf0.001") {
    val rows = graft.queries.Analytics
      .userPareto(spark, "/root/testdata/sf0.001")
      .orderBy("pct").collect()
    assert(rows.length == 5)
    val shares = rows.map(_.getAs[Double]("share"))
    assert(shares.sliding(2).forall(p => p(0) <= p(1)), "share grows with p")
    assert(shares.forall(s => s > 0.0 && s <= 1.0))
    rows.foreach { r =>
      val p = r.getAs[Double]("pct")
      val k = r.getAs[Long]("n_top_users")
      assert(r.getAs[Double]("share") >= p - 1e-9 ||
        r.getAs[Long]("events_covered") >= k,
        "top users cover at least their uniform share")
    }
    // the top slice must be super-proportional on a skewed corpus
    assert(shares.head > 0.01, "top 1% of users covers more than 1% of events")
  }

  test("ordersBacklog invariants at sf0.001: conservation, bounds, net zero") {
    val rows = graft.queries.Analytics
      .ordersBacklog(spark, "/root/testdata/sf0.001")
      .orderBy("day").collect()
      .map(r => (r.getAs[Long]("delta"), r.getAs[Long]("backlog")))
    assert(rows.nonEmpty)
    // running sum is internally consistent
    var cum = 0L
    rows.foreach { case (d, b) => cum += d; assert(b == cum, s"$b != $cum") }
    // every order opens once and closes once → the curve returns to zero
    assert(rows.last._2 == 0L, "all orders eventually close")
    assert(rows.map(_._2).max > 0L, "backlog is positive somewhere")
    assert(rows.forall(_._2 >= 0L), "an order cannot close before it opens")
    val nOrders = graft.source.Tables.orders(spark, "/root/testdata/sf0.001").count()
    assert(rows.map(_._1).filter(_ > 0).sum <= nOrders &&
      rows.map(_._1).sum == 0L, "plus/minus deltas balance")
  }

  test("langIdNgram: separable planted corpus classifies perfectly, zero self-distance structure") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "la casa es blanca y la mesa es grande", "es"),
      (2L, "el perro es negro y la luna es clara", "es"),
      (3L, "the house is white and the table is large", "en"),
      (4L, "the dog is black and the moon is bright", "en")
    ).toDF("doc_id", "text", "lang")
    val got = graft.text.TextStats.langIdNgram(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("predicted_lang"), r.getAs[String]("lang"),
        r.getAs[Long]("rank_distance")))
    assert(got.length == 4)
    got.foreach { case (id, pred, lang, d) =>
      assert(pred == lang, s"doc $id predicted $pred, true $lang (dist $d)")
      assert(d >= 0L)
    }
  }

  test("eventsUserOverlap: Jaccard bounds and symmetry invariants at sf0.001") {
    val rows = graft.queries.Analytics
      .eventsUserOverlap(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ua, ub, ov, j) = (r.getAs[Long]("users_a"), r.getAs[Long]("users_b"),
        r.getAs[Long]("overlap"), r.getAs[Double]("jaccard"))
      assert(r.getAs[String]("type_a") < r.getAs[String]("type_b"))
      assert(ov <= math.min(ua, ub), "overlap bounded by either audience")
      assert(j > 0.0 && j <= 1.0)
      assert(math.abs(j - ov.toDouble / (ua + ub - ov)) < 1e-6)
    }
  }

  test("tokenBudget: prefix property — selected docs are exactly the best-quality fit") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.source.Tables.documents(spark, dir)
    val rows = graft.text.Corpus.tokenBudget(docs, 1000L)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("ws_tokens"), r.getAs[Double]("quality_score"),
        r.getAs[Long]("cum_tokens"), r.getAs[Int]("selected")))
    // running total is consistent with the (quality desc, doc_id) order
    val ordered = rows.sortBy(r => (-r._3, r._1))
    var cum = 0L
    ordered.foreach { r =>
      cum += r._2
      assert(r._4 == cum, s"doc ${r._1}: cum ${r._4} != brute $cum")
      assert(r._5 == (if (cum <= 1000L) 1 else 0), s"doc ${r._1} flag")
    }
    // selection is a PREFIX of the quality ordering, non-empty, partial
    val flags = ordered.map(_._5)
    assert(flags.head == 1 && flags.contains(0),
      "budget must cut the corpus mid-way at this SF")
    assert(!flags.sliding(2).exists(p => p.head == 0 && p.last == 1),
      "selected set must be a prefix")
  }

  test("phashClusters: hand-computed aHash bits, identical payloads cluster") {
    val s = spark
    import s.implicits._
    // "aaaabbbb" len 8 -> 64 tiled positions, exactly one char per cell,
    // char at cell c = (c mod 8 < 4 ? 'a' : 'b'); mean is 97.5 so the 'b'
    // cells set bits 4-7 and 12-15 of each 16-bit chunk: 0xF0F0 = 61680.
    val events = Seq(
      (1L, "aaaabbbb"), (2L, "aaaabbbb"), (3L, "zzzzaaaa")
    ).toDF("event_id", "props")
    val got = graft.media.Multimodal.phashClusters(events)
      .orderBy("event_id").collect()
    val r1 = got(0)
    (0 to 3).foreach { k =>
      assert(r1.getAs[Long](s"h$k") == 61680L, s"h$k of aaaabbbb") }
    assert(got(0).getAs[Long]("phash_cluster") == 1L)
    assert(got(1).getAs[Long]("phash_cluster") == 1L, "identical payloads cluster")
    assert(got(0).getAs[Long]("cluster_size") == 2L)
    assert(got(0).getAs[Int]("keep") == 1 && got(1).getAs[Int]("keep") == 0)
    assert(got(2).getAs[Long]("phash_cluster") == 3L &&
      got(2).getAs[Long]("cluster_size") == 1L)
    // zzzzaaaa flips the bit pattern: low half set instead of high
    assert(got(2).getAs[Long]("h0") == 0x0F0FL)
  }

  test("AHashChunk: bit-exact vs brute-force 64-cell tiled construction") {
    val s = spark
    import s.implicits._
    // Brute-force replay of the ORIGINAL explode-based plan: position
    // p in [0, 8*len), cell = (p*64) div (8*len), v = codepoint of char
    // p mod len; bit c iff 64*cell_c > total; chunk k = sum of bits
    // 16k..16k+15 shifted to the low 16. AHashChunk must match every
    // chunk for lengths that do and do not divide 8.
    def brute(str: String): Seq[Long] = {
      val cps = str.codePoints().toArray.map(_.toLong)
      val len = cps.length
      val cells = new Array[Long](64)
      var p = 0L
      while (p < 8L * len) {
        cells(((p * 64) / (8L * len)).toInt) += cps((p % len).toInt)
        p += 1
      }
      val total = cells.sum
      (0 until 4).map { k =>
        (0 until 16).map { i =>
          if (64L * cells(16 * k + i) > total) 1L << i else 0L
        }.sum
      }
    }
    val rnd = new scala.util.Random(42)
    val strs = Seq("a", "ab", "aaaabbbb", "zzzzaaaa", "abcdefg",
      "hello world, 13!", "x" * 37,
      // non-ASCII: ord/ascii are CODE POINTS (é=233, 日=26085, 😀=128512 —
      // a supplementary char, 2 UTF-16 units but ONE position like Spark's
      // code-point length())
      "héllo", "日本語テキスト", "mix😀ed") ++
      (0 until 20).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(50)).mkString)
    val got = strs.toDF("s")
      .select(col("s"), graft.expr.AHashChunk.ahashChunk(col("s")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    strs.foreach { str =>
      val exp = brute(str)
      assert(exp.distinct.size == 1, s"'$str': chunks must all be equal")
      assert(got(str) == exp.head, s"'$str': ${got(str)} != ${exp.head}")
    }
    // empty payload is filtered upstream but the expression itself is total
    assert(Seq("").toDF("s")
      .select(graft.expr.AHashChunk.ahashChunk(col("s")))
      .collect()(0).getLong(0) == 0L)
  }

  test("hourlyForecastEval: a perfect 24-periodic series has zero seasonal error, MASE 0") {
    val s = spark
    import s.implicits._
    def a(hod: Int): Int = if (hod == 0) 24 else if (hod == 12) -24 else 0
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val events = (0 until 96).flatMap { t =>
      (0 until (100 + a(t % 24))).map(i =>
        (new java.sql.Timestamp(base + t * 3600000L + i), 0L))
    }.toDF("ts", "pad")
    val r = graft.analytics.TimeWindows.hourlyForecastEval(events).collect()(0)
    assert(r.getAs[Long]("n_pairs_naive") == 95L)
    assert(r.getAs[Long]("n_pairs_seasonal") == 72L)
    // seasonal-naive is EXACT on a perfectly periodic series
    assert(r.getAs[Double]("mae_seasonal") == 0.0)
    assert(r.getAs[Double]("rmse_seasonal") == 0.0)
    assert(r.getAs[Double]("mase_seasonal") == 0.0)
    // naive-1 stumbles on the two daily jumps: |d|=24 at hods 0,1,12,13
    // per day (4 days x 4 - 1 missing first transition... brute it)
    val y = (0 until 96).map(t => 100 + a(t % 24))
    val d1 = (1 until 96).map(t => math.abs(y(t) - y(t - 1)))
    assert(math.abs(r.getAs[Double]("mae_naive") - d1.sum.toDouble / 95) < 1e-12)
    assert(math.abs(r.getAs[Double]("rmse_naive") -
      math.sqrt(d1.map(v => v * v).sum.toDouble / 95)) < 1e-12)
  }

  test("hourlyAcf: brute-equal on a planted 24-periodic series, lag-24 dominates") {
    val s = spark
    import s.implicits._
    def a(hod: Int): Int = if (hod == 0) 24 else if (hod == 12) -24 else 0
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val events = (0 until 96).flatMap { t =>
      (0 until (100 + a(t % 24))).map(i =>
        (new java.sql.Timestamp(base + t * 3600000L + i), 0L))
    }.toDF("ts", "pad")
    val got = graft.analytics.TimeWindows.hourlyAcf(events)
      .orderBy("lag").collect()
      .map(r => r.getAs[Long]("lag") -> r.getAs[Double]("acf")).toMap
    // brute reference over the same hourly counts
    val y = (0 until 96).map(t => (100 + a(t % 24)).toDouble)
    val ybar = y.sum / y.length
    val den = y.map(v => (v - ybar) * (v - ybar)).sum
    (1 to 24).foreach { h =>
      val num = (0 until y.length - h)
        .map(t => (y(t) - ybar) * (y(t + h) - ybar)).sum
      assert(math.abs(got(h.toLong) - num / den) < 1e-9,
        s"lag $h: ${got(h.toLong)} vs ${num / den}")
    }
    assert((1 to 23).forall(h => got(24L) > got(h.toLong)),
      "the planted daily cycle must spike at lag 24")
    assert(got(12L) < 0.0, "the half-period lag is anti-correlated")
  }

  test("modularity math: two disjoint triangles score Q=0.5; one component scores 0") {
    val s = spark
    import s.implicits._
    // replicate the query's aggregate math on planted edges + CC labels
    def modularity(edges: Seq[(Int, Int)]): (Map[Int, Double], Double) = {
      val pairs = edges.toDF("a", "b").localCheckpoint()
      val cc = graft.text.Dedup.connectedComponentsStar(
        pairs.select(col("a").as("doc_a"), col("b").as("doc_b")))
      val m = edges.length.toDouble
      val labels = cc.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .view.mapValues(_.size).toMap
      val byC = labels.groupBy(_._2).map { case (c, nodes) =>
        val ids = nodes.keySet
        val eIn = edges.count(e => ids(e._1) && ids(e._2))
        val dSum = ids.toSeq.map(deg).sum
        c -> (eIn / m - (dSum / (2.0 * m)) * (dSum / (2.0 * m)))
      }
      (byC, byC.values.sum)
    }
    val (byC, total) = modularity(
      Seq((1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)))
    assert(byC.values.forall(q => math.abs(q - 0.25) < 1e-12))
    assert(math.abs(total - 0.5) < 1e-12)
    val (_, one) = modularity(Seq((1, 2), (2, 3), (1, 3)))
    assert(math.abs(one) < 1e-12, "a single component has zero modularity")
  }

  test("kAnonymityReport: planted classes land in the right bands with the worst l-diversity") {
    val s = spark
    import s.implicits._
    // QI = (g): class "a" has 1 row (k=1), "b" has 3 rows / 1 user
    // (k=2-4, l-div 1 — a homogeneity leak), "c" has 6 rows / 6 users.
    val rows = Seq(("a", 10L)) ++
      (1 to 3).map(_ => ("b", 20L)) ++
      (1 to 6).map(i => ("c", 30L + i))
    val got = graft.analytics.Privacy.kAnonymityReport(
        rows.toDF("g", "user"), Seq(col("g")), col("user"))
      .orderBy("k_band").collect()
      .map(r => (r.getAs[String]("k_band"), r.getAs[Long]("n_classes"),
        r.getAs[Long]("n_rows"), r.getAs[Long]("min_l_diversity"),
        r.getAs[Double]("row_share")))
    assert(got.toSeq == Seq(
      ("k=1", 1L, 1L, 1L, 0.1),
      ("k=2-4", 1L, 3L, 1L, 0.3),
      ("k=5-9", 1L, 6L, 6L, 0.6)), got.toSeq.toString)
  }

  test("compactionPlan: hand-packed bins — every file in exactly one bin, totals conserved") {
    val s = spark
    import s.implicits._
    val manifest = Seq(
      ("f1", 1L, 1500L), ("f2", 2L, 1500L), ("f3", 3L, 1500L),
      ("f4", 4L, 500L), ("f5", 5L, 4000L)
    ).toDF("file", "k", "n")
    val plan = graft.source.Lake.compactionPlan(
        manifest, col("file"), col("k"), col("n"), 2000L)
      .orderBy("bin").collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_files"),
        r.getAs[Long]("total_rows")))
    // cums 1500,3000,4500,5000,9000 → bins (cum-1)//2000 = 0,1,2,2,4
    assert(plan.toSeq == Seq((0L, 1L, 1500L), (1L, 1L, 1500L),
      (2L, 2L, 2000L), (4L, 1L, 4000L)), plan.toSeq.toString)
    assert(plan.map(_._2).sum == 5L, "every input file lands in one bin")
    assert(plan.map(_._3).sum == 9000L, "row totals are conserved")
  }

  test("decomposeHourly: perfect 24-periodic series splits exactly — trend=level, seasonal=deviation, resid=0") {
    val s = spark
    import s.implicits._
    // 72 hours, count = 100 + a(hod) with a zero-sum over the day:
    // +24 at hod 0, -24 at hod 12. The 2x24 MA of a perfect periodic
    // signal is EXACTLY the period mean, so the split has no slack.
    def a(hod: Int): Int = if (hod == 0) 24 else if (hod == 12) -24 else 0
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val events = (0 until 72).flatMap { t =>
      val n = 100 + a(t % 24)
      (0 until n).map(i =>
        (new java.sql.Timestamp(base + t * 3600000L + i), t.toLong))
    }.toDF("ts", "pad")
    val rows = graft.analytics.TimeWindows.decomposeHourly(events)
      .orderBy("hr").collect()
    assert(rows.length == 72)
    val interior = rows.filter(r => !r.isNullAt(r.fieldIndex("trend")))
    assert(interior.length == 48, "rows 12..59 carry a full 2x24 window")
    interior.foreach { r =>
      val hod = r.getAs[Long]("hod").toInt
      assert(r.getAs[Double]("trend") == 100.0, s"trend at hod $hod")
      assert(r.getAs[Double]("seasonal") == a(hod).toDouble,
        s"seasonal at hod $hod: ${r.getAs[Double]("seasonal")}")
      assert(r.getAs[Double]("resid") == 0.0, s"resid at hod $hod")
    }
  }

  test("poissonBootstrap: constant column collapses the CI; CI brackets the mean") {
    val s = spark
    import s.implicits._
    val cdf = graft.analytics.Sampling.PoissonCdf
    assert(math.abs(cdf.head - math.exp(-1.0)) < 1e-15)
    assert(cdf.sliding(2).forall(p => p(0) < p(1)), "CDF must be increasing")
    assert(cdf.last > 1.0 - 1e-12 && cdf.last <= 1.0)
    // constant x: every replica mean is exactly the constant, so the CI
    // degenerates to a point — bit-exact, no tolerance needed
    val const = (1 to 400).map(i => ("a", i.toLong, 5.0)).toDF("g", "k", "x")
    val r1 = graft.analytics.Sampling.poissonBootstrap(
      const, col("g"), col("k"), col("x")).collect()(0)
    assert(r1.getAs[Long]("n_rows") == 400L)
    assert(r1.getAs[Double]("mean") == 5.0)
    assert(r1.getAs[Double]("ci_lo") == 5.0 && r1.getAs[Double]("ci_hi") == 5.0)
    // varying x: lo <= mean <= hi and the 95% band is strictly inside the
    // data range for a 500-row sample
    val varied = (1 to 500).map(i => ("b", i.toLong, i.toDouble)).toDF("g", "k", "x")
    val r2 = graft.analytics.Sampling.poissonBootstrap(
      varied, col("g"), col("k"), col("x")).collect()(0)
    val (lo, mu, hi) = (r2.getAs[Double]("ci_lo"), r2.getAs[Double]("mean"),
      r2.getAs[Double]("ci_hi"))
    assert(lo < mu && mu < hi, s"CI ($lo, $hi) must bracket mean $mu")
    assert(lo > 1.0 && hi < 500.0, "bootstrap CI of the mean is far inside the range")
    // 1-row group: ~37% of replicas draw weight 0 (empty resample) — they
    // must report the point mean, not 0/0 = NaN sorting into ci_hi, so the
    // whole CI degenerates to the point
    val tiny = Seq(("c", 1L, 7.0)).toDF("g", "k", "x")
    val r3 = graft.analytics.Sampling.poissonBootstrap(
      tiny, col("g"), col("k"), col("x")).collect()(0)
    assert(r3.getAs[Double]("ci_lo") == 7.0 && r3.getAs[Double]("ci_hi") == 7.0,
      s"empty-resample guard: got (${r3.getAs[Double]("ci_lo")}, " +
        s"${r3.getAs[Double]("ci_hi")})")
  }

  test("readability: planted docs — hand-counted Flesch/FKGL, sentence and syllable floors") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the cat sat. it ran fast!"), // 6 words, 2 sentences, 6 syllables
      (2L, "tsk brr"),                   // vowelless → 1-syllable floor each
      (3L, "no punctuation here at all") // sentence floor of 1
    ).toDF("doc_id", "text")
    val m = graft.text.TextStats.withReadability(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1).getAs[Long]("n_words") == 6L)
    assert(m(1).getAs[Long]("n_sentences") == 2L)
    assert(m(1).getAs[Long]("n_syllables") == 6L)
    // flesch = 206.835 - 1.015*3 - 84.6*1; fkgl = 0.39*3 + 11.8 - 15.59
    assert(math.abs(m(1).getAs[Double]("flesch") - 119.19) < 1e-9)
    assert(math.abs(m(1).getAs[Double]("fkgl") - (-2.62)) < 1e-9)
    assert(m(2).getAs[Long]("n_syllables") == 2L, "vowelless words floor at 1")
    assert(m(3).getAs[Long]("n_sentences") == 1L, "no punctuation floors at 1")
  }

  test("mlPrAuc equals the brute average precision under the same tie-break") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.Core.mlPrAuc(spark, dir).collect()(0)
    val w = graft.features.Frames.bySymbol
    val rows = graft.queries.Core.bars(spark, dir).select(col("event_id"),
        (col("close") - lag(col("close"), 5).over(w)).as("score"),
        (lead(col("close"), 1).over(w) > col("close")).cast("int").as("label"))
      .filter(col("score").isNotNull && col("label").isNotNull)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    // score DESC, event_id ASC — the exact ordering of both engines
    val ranked = rows.sortBy(r => (-r._2, r._1)).zipWithIndex
      .map { case ((_, _, label), i) => (label, i + 1L) }
    val posRanks = ranked.filter(_._1 == 1).map(_._2)
    val ap = posRanks.zipWithIndex
      .map { case (r, i) => (i + 1).toDouble / r }.sum / posRanks.length
    assert(got.getAs[Long]("npos") == posRanks.length.toLong)
    assert(math.abs(got.getAs[Double]("ap") - ap) < 1e-6,
      s"ap ${got.getAs[Double]("ap")} vs brute $ap")
  }

  test("mlNdcg equals the brute NDCG@100 under the same grading and tie-breaks") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.Core.mlNdcg(spark, dir).collect()(0)
    val w = graft.features.Frames.bySymbol
    val rows = graft.queries.Core.bars(spark, dir).select(col("event_id"),
        (col("close") - lag(col("close"), 5).over(w)).as("score"),
        ((lead(col("close"), 1).over(w) - col("close")) / col("close")).as("fwd"))
      .filter(col("score").isNotNull && col("fwd").isNotNull)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val n = rows.length.toLong
    val gain = rows.sortBy(r => (r._3, r._1)).zipWithIndex
      .map { case ((id, sc, _), i) => (id, sc, (i.toLong * 4L) / n) }
    def dcg(ranked: Seq[Long]): Double = ranked.zipWithIndex
      .map { case (g, i) => (math.pow(2.0, g.toDouble) - 1.0) /
        (math.log(i + 2.0) / math.log(2.0)) }.sum
    val d = dcg(gain.sortBy(r => (-r._2, r._1)).take(100).map(_._3).toSeq)
    val i = dcg(gain.sortBy(r => (-r._3, r._1)).take(100).map(_._3).toSeq)
    assert(math.abs(got.getAs[Double]("dcg") - d) < 1e-6)
    assert(math.abs(got.getAs[Double]("idcg") - i) < 1e-6)
    assert(math.abs(got.getAs[Double]("ndcg") - d / i) < 1e-6)
    assert(got.getAs[Double]("ndcg") > 0.0 && got.getAs[Double]("ndcg") <= 1.0)
  }

  test("prAuc planted ranking: perfect, inverted, and interleaved labelings") {
    val s = spark
    import s.implicits._
    def apOf(labels: Seq[Int]): Double = {
      val df = labels.zipWithIndex
        .map { case (l, i) => (i.toLong, -i.toDouble, l) } // score strictly desc
        .toDF("event_id", "score", "label")
      graft.queries.Core.prAuc(df).collect()(0).getAs[Double]("ap")
    }
    assert(apOf(Seq(1, 1, 0, 0)) == 1.0)            // all positives first
    // positives at ranks 3,4 → (1/3 + 2/4) / 2
    assert(math.abs(apOf(Seq(0, 0, 1, 1)) - (1.0 / 3 + 0.5) / 2) < 1e-6)
    // interleaved 1,0,1,0 → (1/1 + 2/3) / 2
    assert(math.abs(apOf(Seq(1, 0, 1, 0)) - (1.0 + 2.0 / 3) / 2) < 1e-6)
  }

  test("MIPS norm-augmentation reduction ranks identically to brute MIPS") {
    val emb = graft.source.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "rank", "neighbor_id")
        .orderBy("probe_id", "rank").collect().toSeq
    assert(ranks(graft.sim.Similarity.mipsTopK(emb)) ==
      ranks(graft.sim.Similarity.mipsAugmentedTopK(emb)),
      "augmented-cosine order must equal inner-product order")
  }

  test("mlLift invariants: deciles partition the scored rows, gains reach 1") {
    val rows = graft.queries.Core.mlLift(spark, "/root/testdata/sf0.001")
      .orderBy("decile").collect()
    assert(rows.length == 10)
    val nRows = rows.map(_.getAs[Long]("n_rows"))
    // exact integer deciles differ by at most 1 row
    assert(nRows.max - nRows.min <= 1, s"unbalanced deciles: ${nRows.toSeq}")
    val cumPos = rows.map(_.getAs[Long]("cum_pos"))
    assert(cumPos.zip(cumPos.tail).forall { case (a, b) => a <= b })
    assert(math.abs(rows.last.getAs[Double]("cum_gain") - 1.0) < 1e-9)
    // positives-weighted decomposition: sum over deciles of
    // lift_d * n_rows_d / tot_rows == 1 (each decile contributes its
    // positive share) — within rounding of the emitted 6dp lift
    val tot = nRows.sum.toDouble
    val mix = rows.map(r => r.getAs[Double]("lift") * r.getAs[Long]("n_rows") / tot).sum
    assert(math.abs(mix - 1.0) < 1e-4, s"lift mixture $mix != 1")
  }

  test("linkPrediction: hand values on a planted graph, hub cap excludes centers") {
    val s = spark
    import s.implicits._
    // a-b, a-c, b-d, c-d, d-e as 1..5: degrees a2 b2 c2 d3 e1
    val (a, b, c, d, e) = (1L, 2L, 3L, 4L, 5L)
    val edges = Seq((a, b), (a, c), (b, d), (c, d), (d, e))
      .toDF("a", "b")
    val got = graft.analytics.Graph.linkPrediction(edges)
      .orderBy(col("cn").desc, col("u"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val ln2 = math.log(2.0); val ln3 = math.log(3.0)
    assert(got.map(t => (t._1, t._2)).toSeq ==
      Seq((a, d), (b, c), (b, e), (c, e)))
    // (a,d): common {b,c}, jacc 2/(2+3-2), aa 2/ln2
    assert(got(0)._3 == 2L && math.abs(got(0)._4 - 2.0 / 3) < 1e-12 &&
      math.abs(got(0)._5 - 2.0 / ln2) < 1e-12)
    // (b,c): common {a,d}, jacc 2/(2+2-2)=1, aa 1/ln2 + 1/ln3
    assert(got(1)._3 == 2L && math.abs(got(1)._4 - 1.0) < 1e-12 &&
      math.abs(got(1)._5 - (1.0 / ln2 + 1.0 / ln3)) < 1e-12)
    // (b,e)/(c,e): common {d}, jacc 1/(2+1-1), aa 1/ln3
    Seq(got(2), got(3)).foreach { t =>
      assert(t._3 == 1L && math.abs(t._4 - 0.5) < 1e-12 &&
        math.abs(t._5 - 1.0 / ln3) < 1e-12)
    }
    // cap=2 removes center d: (b,e)/(c,e) vanish, (b,c) keeps only center a
    val capped = graft.analytics.Graph.linkPrediction(edges, maxCenterDegree = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped == Map((a, d) -> 2L, (b, c) -> 1L))
    // hub-source flush valve: forcing the counter cap to 1 sends every
    // group through the partial-flush + relational-remainder path; output
    // must be identical (each wedge lands in exactly one flush).
    // broadcastMaxEdges = 0 forces the SHUFFLED path (default gate would
    // take the broadcast path on this tiny graph and ignore the valve).
    val flushed = graft.analytics.Graph.linkPrediction(edges,
        maxCounterEntries = 1, broadcastMaxEdges = 0L)
      .orderBy(col("cn").desc, col("u"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(flushed.toSeq == got.toSeq, "flush path must equal counter path")
    // shuffled counter path (no flush) must equal the default broadcast
    // path too — all three wedge-counting paths agree
    val shuffled = graft.analytics.Graph.linkPrediction(edges,
        broadcastMaxEdges = 0L)
      .orderBy(col("cn").desc, col("u"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(shuffled.toSeq == got.toSeq, "shuffled path must equal broadcast path")
    // non-canonical edge row (b, a order): both valve sides must exclude
    // the existing edge identically — the flush path's anti-join is
    // symmetric for exactly this reason
    val nonCanon = edges.unionAll(Seq((d, a)).toDF("a", "b"))
    Seq(graft.analytics.Graph.LinkPredMaxCounterEntries, 1).foreach { mce =>
      val pairs = graft.analytics.Graph
        .linkPrediction(nonCanon, maxCounterEntries = mce,
          broadcastMaxEdges = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!pairs.contains((a, d)),
        s"mce=$mce: existing (reversed) edge a-d must not be predicted")
    }
    // ...and the broadcast path's N(u) probe drops the reversed edge too
    val bcPairs = graft.analytics.Graph.linkPrediction(nonCanon)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!bcPairs.contains((a, d)),
      "broadcast path: existing (reversed) edge a-d must not be predicted")
    // ids are bigint only: a string-id edge list fails fast, naming its type
    val err = intercept[IllegalArgumentException](graft.analytics.Graph
      .linkPrediction(Seq(("a", "b"), ("b", "c")).toDF("a", "b")))
    assert(err.getMessage.contains("string"), err.getMessage)
  }

  test("timeToConvert: first-signup anchor, pre-signup purchases don't convert, -1 bucket kept") {
    val s = spark
    import s.implicits._
    val h = 3600L * 1000000L
    val ev = Seq(
      // u1: signup at 1h, purchases at 0.5h (BEFORE — must not count) and 3h
      (1L, h / 2, 1L, "purchase"), (2L, h, 1L, "signup"),
      (3L, 3L * h, 1L, "purchase"),
      // u2: two signups — latency anchors on the FIRST; purchase at 2h
      (4L, h, 2L, "signup"), (5L, 10L * h, 2L, "signup"),
      (6L, 2L * h, 2L, "purchase"),
      // u3: signup, never purchases after
      (7L, h, 3L, "signup"))
      .map { case (e, t, u, ty) => (e, t, u, ty, 1.0) }
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val got = graft.analytics.Behavior.timeToConvert(ev)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // u1: 3h − 1h = bucket 2; u2: 2h − 1h = bucket 1; u3: −1
    assert(got == Map(2L -> 1L, 1L -> 1L, -1L -> 1L), s"got $got")
  }

  test("weightedMedian: weight dominance and the 50/50 lower-median boundary") {
    val s = spark
    import s.implicits._
    val df = Seq(
      // group a: weight 10 on the largest value drags the median to it
      ("a", 1.0, 1L, 1L), ("a", 2.0, 1L, 2L), ("a", 3.0, 10L, 3L),
      // group b: exact 50/50 split → the LOWER median by the 2·cumw ≥ tot rule
      ("b", 1.0, 1L, 4L), ("b", 2.0, 1L, 5L))
      .toDF("g0", "v0", "w0", "id0")
    val got = graft.analytics.Relational.weightedMedian(df,
        col("g0"), col("v0"), col("w0"), col("id0"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("a", 3L, 12L, 3.0), ("b", 2L, 2L, 1.0)),
      s"got ${got.toSeq}")
  }

  test("sessionConcurrency: planted overlapping sessions, starts tie before ends") {
    val s = spark
    import s.implicits._
    val sec = 1000000L
    // A [0,100]s and B [50,150]s overlap; C sits alone in hour 2;
    // D is a single-event session exactly at B's end (the tie case)
    val ev = Seq(
      (1L, 0L, 1L), (2L, 100L, 1L),
      (3L, 50L, 2L), (4L, 150L, 2L),
      (5L, 7200L, 3L), (6L, 7300L, 3L),
      (7L, 150L, 4L))
      .map { case (e, t, u) => (e, t * sec, u, "view", 1.0) }
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val got = graft.analytics.Relational.sessionConcurrency(ev)
      .orderBy("hour_bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // hour 0: 6 boundaries (A, B, D start+end each), peak 2 from the A∩B
    // overlap; the t=150 instant sweeps +D → 2, −B → 1, −D → 0 (starts tie
    // before ends), so the one-event session registers without a new peak
    assert(got.toSeq == Seq((0L, 6L, 2L), (2L, 2L, 1L)), s"got ${got.toSeq}")
  }

  test("userLtv: planted cohorts accumulate revenue per cohort user") {
    val s = spark
    import s.implicits._
    val wk = 7L * 86400L * 1000000L
    // u4/u5 cohort week0 (u5 via a non-purchase first touch), u6 week1
    val ev = Seq(
      (1L, 0L, 4L, "purchase", 10.0),
      (2L, 1000L, 5L, "view", 0.0),
      (3L, wk, 4L, "purchase", 20.0),
      (4L, wk + 1L, 5L, "purchase", 30.0),
      (5L, wk + 2L, 6L, "purchase", 40.0))
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val got = graft.analytics.Behavior.userLtv(ev)
      .orderBy("cohort_week", "age_weeks").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4),
        r.getDouble(5)))
    // epoch 0 is a Thursday: ts=0 and ts=wk land in different ISO weeks
    assert(got.toSeq == Seq(
      (0, 2L, 1L, 10.0, 5.0),   // week-0 cohort, age 0: u4's $10 over 2 users
      (1, 2L, 2L, 50.0, 30.0),  // age 1: +$20 (u4) +$30 (u5) → cum 60/2
      (0, 1L, 1L, 40.0, 40.0)), // u6's own cohort
      s"got ${got.toSeq}")
  }

  test("piiSummary: planted PII counts per source, email precedence over digit runs") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "contact bob.smith99@corp.example.com or 555-123-4567 now", "siteA"),
      (2L, "id 1234567890123 and host 10.0.0.1 here", "siteA"),
      (3L, "totally clean text", "siteB"))
      .toDF("doc_id", "text", "source")
    val got = graft.text.TextStats.piiSummary(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // the email's digits ('99') are consumed by the email rewrite — only
    // doc 2's 13-digit run counts as num; the phone is a phone, not a num
    assert(got(("siteA", "email")) == (1L, 1L), got.toString)
    assert(got(("siteA", "phone")) == (1L, 1L))
    assert(got(("siteA", "ip")) == (1L, 1L))
    assert(got(("siteA", "num")) == (1L, 1L))
    assert(got(("siteB", "email")) == (0L, 0L))
    assert(got(("siteB", "num")) == (0L, 0L))
  }

  test("dqQuarantine flags exactly the rule-breaking rows (sf0.1 has value=0 rows)") {
    val dir = "/root/testdata/sf0.1"
    val got = graft.queries.Analytics.dqQuarantine(spark, dir).collect()
    val ev = graft.source.Bars.readEvents(spark, dir)
    val wantN = ev.filter(col("value") <= 0.0 || col("value") > 400.0).count()
    assert(got.length.toLong == wantN && wantN > 0,
      s"quarantine rows ${got.length} vs rule-breaking rows $wantN")
    // the zero-value class must actually fire at this SF, reasons must be
    // one of the two live rules, and no row can break both range gates
    assert(got.exists(_.getAs[String]("reasons") == "value_positive"))
    assert(got.forall(r => Set("value_positive", "value_below_cap")
      .contains(r.getAs[String]("reasons")) && r.getAs[Long]("n_failed") == 1L))
  }

  test("attribution: planted journey credits first/last/linear correctly, out-of-window touch attributes nothing") {
    val s = spark
    import s.implicits._
    val h = 3600L * 1000000L
    val ev = Seq(
      // user 1: click then view inside the 24h window, then purchase
      (1L, 1L * h, 4L, "click"), (2L, 2L * h, 4L, "view"),
      (3L, 3L * h, 4L, "purchase"),
      // user 2's only touch is 30h stale — purchase attributes nothing
      (4L, 1L * h, 5L, "signup"), (5L, 31L * h, 5L, "purchase"))
      .toDF("event_id", "us", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val got = graft.analytics.Behavior.attribution(ev)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    assert(got == Map(
      ("first_touch", "click") -> (1.0, 1L),
      ("first_touch", "view") -> (0.0, 0L),
      ("last_touch", "click") -> (0.0, 0L),
      ("last_touch", "view") -> (1.0, 1L),
      ("linear", "click") -> (0.5, 1L),
      ("linear", "view") -> (0.5, 1L)), s"got $got")
  }

  test("zorderTiles: 4x4 grid cuts into quadrant tiles — both dims span 1, never a full-width stripe") {
    val s = spark
    import s.implicits._
    // one row per cell of a 4×4 grid; bits=2 makes cells the values
    // themselves, tiles=4 cuts the 16-point z-curve into its 4 quadrants
    val grid = (for { x <- 0L to 3L; y <- 0L to 3L } yield (x, y, x * 4 + y))
      .toDF("x", "y", "id")
    val got = graft.source.Lake.zorderTiles(grid, col("x"), col("y"),
        col("id"), tiles = 4, bits = 2)
      .orderBy("tile").collect()
    assert(got.length == 4)
    got.foreach { r =>
      assert(r.getAs[Long]("n_rows") == 4L)
      assert(r.getAs[Long]("x_max") - r.getAs[Long]("x_min") == 1L,
        s"tile ${r.getAs[Long]("tile")}: x span not quadrant-tight")
      assert(r.getAs[Long]("y_max") - r.getAs[Long]("y_min") == 1L,
        s"tile ${r.getAs[Long]("tile")}: y span not quadrant-tight")
    }
    // tile 0 is the origin quadrant; tile 3 the far quadrant (z-curve order)
    assert(got(0).getAs[Long]("x_min") == 0L && got(0).getAs[Long]("y_min") == 0L)
    assert(got(3).getAs[Long]("x_min") == 2L && got(3).getAs[Long]("y_min") == 2L)
    // contrast: a row-major (sort by y) layout would give every tile the
    // FULL x range — z-order is what makes both spans tight at once
  }

  test("dsirWeights: hand values with add-1 smoothing over the shared vocab") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a a b", true), (2L, "a c", false))
      .toDF("doc_id", "text", "tgt")
    val got = graft.text.TextStats.dsirWeights(docs, col("tgt"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // V=3, tt=3, tr=5: lw(a)=ln(3/6 / (4/8))=0, lw(b)=ln((2/6)/(2/8)),
    // lw(c)=ln((1/6)/(2/8)) — c unseen in target stays finite via add-1
    val lwB = math.log((2.0 / 6) / (2.0 / 8))
    val lwC = math.log((1.0 / 6) / (2.0 / 8))
    assert(got(0)._2 == 3L && math.abs(got(0)._3 - lwB) < 1e-12,
      s"target doc: ${got(0)}")
    assert(got(1)._2 == 2L && math.abs(got(1)._3 - lwC) < 1e-12,
      s"raw doc: ${got(1)}")
    // the target-looking doc must outscore the off-target one
    assert(got(0)._3 > got(1)._3)
  }

  test("personalizedPageRank: recurrence replay, unreachable nodes exactly 0, mass conserved") {
    val s = spark
    import s.implicits._
    // a→b with seed {a}; c→d is a disconnected component no seed reaches
    val edges = Seq(("a", "b"), ("c", "d")).toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val got = graft.analytics.Graph.personalizedPageRank(edges, seeds, iters = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set("a", "b", "c", "d"))
    assert(got("c") == 0.0 && got("d") == 0.0,
      "nodes unreachable from the seed set must score exactly 0.0")
    // replay: D = rank(b) + rank(d) (both dangling); tp = (1,0,0,0)
    var (a, b) = (1.0, 0.0)
    for (_ <- 1 to 10) {
      val dm = b // rank(d) stays 0
      val (na, nb) = (0.15 * 1.0 + 0.85 * (0.0 + dm * 1.0), 0.85 * a)
      a = na; b = nb
    }
    assert(math.abs(got("a") - a) < 1e-12 && math.abs(got("b") - b) < 1e-12)
    assert(math.abs(got.values.sum - 1.0) < 1e-12,
      "restart-to-seeds conserves total mass")
    // seeds outside the graph are ignored; an all-outside seed set throws
    val got2 = graft.analytics.Graph.personalizedPageRank(
      edges, Seq("a", "zz").toDF("node"), iters = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got2("b") == 0.85, "|S ∩ nodes| = 1, not 2")
    intercept[IllegalArgumentException] {
      graft.analytics.Graph.personalizedPageRank(
        edges, Seq("zz").toDF("node"), iters = 1)
    }
  }

  test("fuzzyTypePairs: planted near-dup name types, block recall bound, multiplicities") {
    val s = spark
    import s.implicits._
    val rows = (Seq.fill(3)("red bolt") ++ Seq.fill(2)("red bold") ++
      Seq("red cat") ++ Seq.fill(5)("blue bolt")).zipWithIndex
      .map { case (n, i) => (i.toLong, n) }.toDF("id", "nm")
    val got = graft.text.Dedup.fuzzyTypePairs(rows, col("nm"),
        Map("tok" -> ((v: org.apache.spark.sql.Column) =>
          split(v, " ").getItem(0))), maxDist = 3)
      .orderBy("name_a", "name_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // ("red bold","red bolt") dist 1, 2·3 row pairs; ("red bolt","red cat")
    // dist 3, 3·1; ("red bold","red cat") is dist 4 — over the cap;
    // "blue bolt" is one edit from "red bolt" per word but blocks on its
    // first token, so it is never compared (the documented recall bound)
    assert(got.toSeq == Seq(
      ("red bold", "red bolt", 1L, 6L),
      ("red bolt", "red cat", 3L, 3L)))
  }

  test("hits: recurrence replay on a planted bipartite graph; zero scores; L1 = 1") {
    val s = spark
    import s.implicits._
    // c1→p1, c1→p2, c2→p1 — N = 4, hub0 = 1/4
    val edges = Seq(("c1", "p1"), ("c1", "p2"), ("c2", "p1")).toDF("src", "dst")
    val got = graft.analytics.Graph.hits(edges, iters = 8)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet == Set("c1", "c2", "p1", "p2"))
    // sources never receive, sinks never emit
    assert(got("p1")._1 == 0.0 && got("p2")._1 == 0.0, "parts have hub 0")
    assert(got("c1")._2 == 0.0 && got("c2")._2 == 0.0, "customers have auth 0")
    // straight-loop replay of the L1-normalized recurrence
    var (h1, h2) = (0.25, 0.25)
    var (a1, a2) = (0.0, 0.0)
    for (_ <- 1 to 8) {
      val (ra1, ra2) = (h1 + h2, h1)
      val as = ra1 + ra2
      a1 = ra1 / as; a2 = ra2 / as
      val (rh1, rh2) = (a1 + a2, a1)
      val hs = rh1 + rh2
      h1 = rh1 / hs; h2 = rh2 / hs
    }
    assert(math.abs(got("c1")._1 - h1) < 1e-12 && math.abs(got("c2")._1 - h2) < 1e-12)
    assert(math.abs(got("p1")._2 - a1) < 1e-12 && math.abs(got("p2")._2 - a2) < 1e-12)
    // each L1-normalized side sums to exactly 1 (up to float-sum noise)
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-12)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-12)
  }

  test("hits: tol early exit stops in fewer rounds, bit-identical to the fixed run of that length") {
    val s = spark
    import s.implicits._
    val edges = Seq(("c1", "p1"), ("c1", "p2"), ("c2", "p1")).toDF("src", "dst")
    val (scores, rounds, deltas) = graft.analytics.Graph.hitsWithRounds(
      edges, iters = 50, tol = Some(1e-10))
    assert(rounds < 50, s"expected early exit, ran all $rounds rounds")
    assert(deltas.length == rounds && deltas.last <= 1e-10)
    assert(deltas.dropRight(1).forall(_ > 1e-10), "stopped at the FIRST delta <= tol")
    val fixed = graft.analytics.Graph.hits(edges, iters = rounds)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    scores.collect().foreach { r =>
      assert(r.getDouble(1) == fixed(r.getString(0))._1 &&
        r.getDouble(2) == fixed(r.getString(0))._2,
        s"node ${r.getString(0)}: early-exit scores differ from fixed-$rounds run")
    }
  }
}
