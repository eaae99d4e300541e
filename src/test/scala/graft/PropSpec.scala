package graft

import graft.analytics.Ranking
import graft.features.Frames
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Randomized-property invariants — the identities the engine's scale
  * formulations rely on, checked against the naive formulations they
  * replace over seeded random inputs (deterministic, reproducible runs):
  * the cum−lag rolling identity vs Spark's native sliding frame, bucketed
  * global numbering vs the single-partition window, gapfill
  * density/coverage.
  */
class PropSpec extends SparkSpec {

  private val rnd = new scala.util.Random(0x67726166L) // "graf", fixed seed

  test("property: cum−lag rolling sum == native sliding-frame sum (random series/windows)") {
    for (_ <- 1 to 8) {
      val n = 1 + rnd.nextInt(60)
      val w = 1 + rnd.nextInt(25)
      val xs = Seq.fill(n)((rnd.nextDouble() - 0.5) * 2e6)
      val df = barsOf(xs)
      val cums = Frames.withCums(df, Map("_c" -> col("close")))
      val got = column(cums.select(col("symbol"), col("event_id"),
        when(Frames.cumCountGate("_c", w), Frames.cumRolling("_c", w)).as("r")), "r")
      val frame = Frames.bySymbol.rowsBetween(-(w - 1), 0)
      val naive = column(df.select(col("symbol"), col("event_id"),
        when(count(col("close")).over(frame) === w,
          sum(col("close")).over(frame)).as("r")), "r")
      assert(got.length == naive.length)
      got.zip(naive).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a.isDefined == b.isDefined, s"row $i gate mismatch: $a vs $b")
        // identical reals, different association order: fp slack scaled to
        // the partial-sum magnitudes
        a.zip(b).foreach { case (x, y) =>
          assert(math.abs(x - y) <= 1e-6,
            s"n=$n w=$w row $i: cum−lag $x vs native $y")
        }
      }
    }
  }

  test("property: pageRank conserves mass and is invariant to edge order (random symmetric graphs)") {
    val s = spark
    import s.implicits._
    for (trial <- 1 to 4) {
      val nNodes = 4 + rnd.nextInt(12)
      // random undirected edges over nNodes, symmetrized, no isolated nodes:
      // chain i→i+1 guarantees connectivity so every node has in+out mass
      val chain = (0 until nNodes - 1).map(i => (s"n$i", s"n${i + 1}"))
      val extra = Seq.fill(nNodes)((s"n${rnd.nextInt(nNodes)}", s"n${rnd.nextInt(nNodes)}"))
        .filter { case (a, b) => a != b }
      val und = (chain ++ extra).distinct
      val edges = und.toDF("a", "b")
        .select(col("a").as("src"), col("b").as("dst"))
        .unionAll(und.toDF("a", "b").select(col("b").as("src"), col("a").as("dst")))
        .distinct()
      val ranks = graft.analytics.Graph.pageRank(edges, iters = 6)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(ranks.size == nNodes, s"trial $trial: lost nodes")
      assert(math.abs(ranks.values.sum - 1.0) < 1e-9,
        s"trial $trial: rank mass ${ranks.values.sum} != 1")
      assert(ranks.values.forall(_ > 0), s"trial $trial: non-positive rank")
      // permuting the edge list (and its partitioning) must not change
      // ranks beyond float-sum-order noise
      val shuffled = edges.orderBy(rand(seed = trial)).repartition(7)
      val ranks2 = graft.analytics.Graph.pageRank(shuffled, iters = 6)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      ranks.foreach { case (n, v) =>
        assert(math.abs(ranks2(n) - v) < 1e-12,
          s"trial $trial node $n: edge order changed rank $v -> ${ranks2(n)}")
      }
    }
  }

  test("property: bucketed global row numbering == single-partition window (random keys)") {
    val s = spark
    import s.implicits._
    for (_ <- 1 to 6) {
      val n = 1 + rnd.nextInt(200)
      val buckets = 2 + rnd.nextInt(8)
      val keys = Seq.fill(n)(rnd.nextInt(20).toLong) // heavy duplicate keys
      val df = keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }
        .toDF("event_id", "k")
      val (got, total) = Ranking.withGlobalRowNumber(
        df, col("k"), Seq(col("k"), col("event_id")), buckets = buckets)
      assert(total == n.toLong)
      val want = df.withColumn("rn",
        row_number().over(Window.orderBy(col("k"), col("event_id"))).cast("long"))
      assert(got.select("event_id", "rn").orderBy("event_id").collect().toSeq ==
        want.select("event_id", "rn").orderBy("event_id").collect().toSeq,
        s"n=$n buckets=$buckets")
    }
  }

  test("property: gapfill output is dense, ordered, and preserves observed closes") {
    val s = spark
    import s.implicits._
    for (_ <- 1 to 6) {
      val hours = Seq.fill(1 + rnd.nextInt(40))(rnd.nextInt(100).toLong)
        .distinct.sorted
      val rows = hours.map(h => h -> (1.0 + rnd.nextInt(999)))
      val hourly = rows.map { case (h, c) => ("A", h, c, 1L) }
        .toDF("symbol", "h", "close", "n_ticks")
        .withColumn("bar_start",
          timestamp_micros(col("h") * 3600L * 1000000L).cast("timestamp_ntz"))
        .drop("h")
      val got = graft.analytics.TimeWindows.gapfill(hourly)
        .orderBy("bar_start").collect()
      val span = rows.last._1 - rows.head._1 + 1
      assert(got.length == span, s"grid not dense: ${got.length} vs $span")
      assert(got.forall(!_.isNullAt(2)), "forward fill left a null close")
      // every observed hour keeps its own close, gaps carry the previous one
      val byHour = rows.toMap
      var lastClose = rows.head._2
      got.zipWithIndex.foreach { case (r, i) =>
        val h = rows.head._1 + i
        byHour.get(h).foreach(c => lastClose = c)
        assert(r.getDouble(2) == lastClose, s"hour $h: wrong fill")
        assert(r.getInt(3) == (if (byHour.contains(h)) 0 else 1), s"hour $h: gap flag")
      }
    }
  }

  test("property: applyDiff(old, snapshotDiff(old, new)) reconstructs new exactly") {
    val s = spark
    import s.implicits._
    for (_ <- 1 to 6) {
      val keyspace = 0L until (20 + rnd.nextInt(60)).toLong
      // independent random subsets with random (sometimes null, sometimes
      // shared) values — every diff class appears: added, removed, changed
      // old<->null both directions, and untouched rows
      def snap() = keyspace.filter(_ => rnd.nextDouble() < 0.7).map { k =>
        (k, if (rnd.nextDouble() < 0.15) None else Some(rnd.nextInt(5).toDouble))
      }.toDF("k", "v")
      val o = snap(); val n = snap()
      val diff = graft.source.Lake.snapshotDiff(o, n, Seq("k"), Seq("v"))
      val rebuilt = graft.source.Lake.applyDiff(o, diff, Seq("k"), Seq("v"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .sortBy(_._1).toSeq
      assert(rows(rebuilt) == rows(n), "diff+patch did not reconstruct the new snapshot")
      // and the diff of identical snapshots is empty
      assert(graft.source.Lake.snapshotDiff(n, n, Seq("k"), Seq("v")).count() == 0)
    }
  }

  test("property: incremental finite-feature backfill == full recompute on the new rows") {
    import graft.features.Incremental
    for (trial <- 1 to 3) {
      // symbol A long (full lookback present), symbol B shorter than the
      // lookback (null-gate behavior must also match), random closes
      val nA = Incremental.FiniteLookback + 40 + rnd.nextInt(60)
      val nB = 5 + rnd.nextInt(Incremental.FiniteLookback - 5)
      val a = barsOf(Seq.fill(nA)(50.0 + rnd.nextDouble() * 100), "A")
      val b = barsOf(Seq.fill(nB)(50.0 + rnd.nextDouble() * 100), "B")
      val full = a.unionByName(b)
      val newFromA = nA - (1 + rnd.nextInt(20)) // last k rows of A are "new"
      val newFromB = nB - (1 + rnd.nextInt(4))
      val isNew = (col("symbol") === "A" && col("event_id") >= newFromA) ||
        (col("symbol") === "B" && col("event_id") >= newFromB)
      val got = Incremental.backfillFinite(
        full.filter(!isNew), full.filter(isNew))
      val want = Incremental.finiteFeatures(full).filter(isNew)
      val cols = Seq("symbol", "event_id") ++ Incremental.FiniteFeatureCols
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(cols.map(col): _*).orderBy("symbol", "event_id")
          .collect().map(_.toSeq).toSeq
      val (g, w2) = (rows(got), rows(want))
      assert(g.length == w2.length, s"trial $trial: row counts differ")
      // same reals, different cum-sum association origin: compare with a
      // tight RELATIVE tolerance (the identity is exact in math, ulp-level
      // in fp — see Incremental's scaladoc)
      g.zip(w2).foreach { case (gr, wr) =>
        gr.zip(wr).zipWithIndex.foreach {
          case ((a: java.lang.Double, b: java.lang.Double), i) =>
            val denom = math.max(1.0, math.max(math.abs(a), math.abs(b)))
            assert(math.abs(a - b) / denom <= 1e-9,
              s"trial $trial row ${gr.take(2)} col ${cols(i)}: $a vs $b")
          case ((a, b), i) =>
            assert(a == b, s"trial $trial row ${gr.take(2)} col ${cols(i)}: $a vs $b")
        }
      }
    }
  }

  test("property: incremental EWMA backfill == full recompute on the new rows (rsi bit-exact)") {
    import graft.features.{Features, Incremental}
    for (trial <- 1 to 3) {
      // A long, B short (including 1-row history: avg_gain still null in
      // state), C entirely new (no state row)
      val nA = 60 + rnd.nextInt(80)
      val nB = 1 + rnd.nextInt(4)
      val nC = 3 + rnd.nextInt(10)
      val a = barsOf(Seq.fill(nA)(50.0 + rnd.nextDouble() * 100), "A")
      val b = barsOf(Seq.fill(nB)(50.0 + rnd.nextDouble() * 100), "B")
      val c = barsOf(Seq.fill(nC)(50.0 + rnd.nextDouble() * 100), "C")
      val full = a.unionByName(b).unionByName(c)
      val newFromA = nA - (1 + rnd.nextInt(20))
      val isNew = (col("symbol") === "A" && col("event_id") >= newFromA) ||
        (col("symbol") === "B" && col("event_id") >= nB - 1) ||
        (col("symbol") === "C")
      val state = Incremental.ewmaState(full.filter(!isNew))
      val got = Incremental.backfillEwma(state, full.filter(isNew))
      val want = Features.computeAllFeatures(full).filter(isNew)
      val cols = Seq("symbol", "event_id") ++ Incremental.EwmaFeatureCols
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(cols.map(col): _*).orderBy("symbol", "event_id")
          .collect().map(_.toSeq).toSeq
      val (g, w2) = (rows(got), rows(want))
      assert(g.length == w2.length, s"trial $trial: row counts differ")
      g.zip(w2).foreach { case (gr, wr) =>
        gr.zip(wr).zipWithIndex.foreach {
          case ((a: java.lang.Double, b: java.lang.Double), i) if cols(i) == "rsi" =>
            // adjust=false continuation re-enters the exact terminal mean
            // through the seed branch: bit-equality, not just tolerance
            assert(a == b, s"trial $trial row ${gr.take(2)} rsi: $a vs $b")
          case ((a: java.lang.Double, b: java.lang.Double), i) =>
            val denom = math.max(1.0, math.max(math.abs(a), math.abs(b)))
            assert(math.abs(a - b) / denom <= 1e-9,
              s"trial $trial row ${gr.take(2)} col ${cols(i)}: $a vs $b")
          case ((a, b), i) =>
            assert(a == b, s"trial $trial row ${gr.take(2)} col ${cols(i)}: $a vs $b")
        }
      }
    }
  }

  test("property: upsert is idempotent and equals the max-version lookup") {
    val s = spark
    import s.implicits._
    for (_ <- 1 to 6) {
      val base = (0L until (10 + rnd.nextInt(40)).toLong)
        .map(k => (k, rnd.nextInt(100).toDouble, 1L)).toDF("k", "v", "version")
      // several update batches per key, (k, version) unique by construction
      val updates = (0L until 60L).filter(_ => rnd.nextDouble() < 0.4)
        .flatMap(k => Seq(2L, 3L, 4L)
          .filter(_ => rnd.nextDouble() < 0.5)
          .map(ver => (k, rnd.nextInt(100).toDouble, ver)))
        .toDF("k", "v", "version")
      val once = graft.source.Lake.upsert(base, updates, Seq("k"), "version")
      val twice = graft.source.Lake.upsert(once, updates, Seq("k"), "version")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(rows(once) == rows(twice), "re-applying the same batch changed state")
      // newest-wins == naive per-key max-version lookup
      val naive = base.unionByName(updates)
        .withColumn("_mx", max(col("version")).over(
          Window.partitionBy("k")))
        .filter(col("version") === col("_mx")).drop("_mx")
      assert(rows(once) == rows(naive), "upsert diverges from max-version lookup")
    }
  }

  test("property: containment bounds Jaccard and exactNorm groups are consistent") {
    val s = spark
    import s.implicits._
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val base = (1 to 120).map { i =>
      val len = 3 + rnd.nextInt(15)
      (i.toLong, (1 to len).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    // plant containment cases: doc fully embedded in a longer doc
    val planted = base.take(20).map { case (id, t) =>
      (id + 1000L, t + " " + base((id.toInt + 3) % 40)._2)
    }
    val docs = (base ++ planted).toDF("doc_id", "text")
    val pairs = graft.text.Dedup.containmentPairs(docs, threshold = 0.0).collect()
    assert(pairs.nonEmpty, "no candidate pairs on planted containment data")
    pairs.foreach { r =>
      val (ca, cb, j) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      // |A∩B|/|A| >= |A∩B|/|A∪B| always; equality iff A ⊆ ... union = A
      assert(ca >= j - 1e-12 && cb >= j - 1e-12,
        s"containment below jaccard on pair (${r.getLong(0)}, ${r.getLong(1)})")
      assert(ca <= 1.0 + 1e-12 && cb <= 1.0 + 1e-12, "containment above 1")
    }

    // exactNorm: canonical ids are group minima; variants never exceed
    // copies; and normalization can only MERGE groups vs raw exact
    val caseNoised = docs.select(col("doc_id") + 2000L as "doc_id",
      upper(col("text")).as("text"))
    val all = docs.unionByName(caseNoised)
    val norm = graft.text.Dedup.exactNorm(all).collect()
    norm.foreach { r =>
      assert(r.getLong(2) >= r.getLong(3),
        "a normalized group has more distinct variants than member rows")
    }
    val rawGroups = graft.text.Dedup.exact(all).count()
    assert(norm.length < rawGroups,
      "case-noised corpus: normalization found no extra merges")
  }

  test("property: asofJoin (±tolerance) == per-row brute force on random event streams") {
    val s = spark
    import s.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    for (_ <- 1 to 4) {
      val nUsers = 1 + rnd.nextInt(5)
      val lefts = (0 until 40).map { i =>
        (100L + i, rnd.nextInt(nUsers).toLong, ts(rnd.nextInt(1000).toLong))
      }
      val rights = (0 until 40).map { i =>
        (500L + i, rnd.nextInt(nUsers).toLong, ts(rnd.nextInt(1000).toLong))
      }
      val tol = (10 + rnd.nextInt(300)).toLong
      val got = graft.analytics.Relational.asofJoin(
          lefts.toDF("event_id", "user_id", "ts"),
          rights.toDF("event_id", "user_id", "ts"),
          key = "user_id", leftTime = "ts", rightTime = "ts",
          tie = "event_id", valueCols = Seq("event_id"),
          toleranceMicros = Some(tol * 1000000L))
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .toMap
      val want = lefts.map { case (lid, u, lt) =>
        // latest right at-or-before lt for the user, ties by max event_id,
        // then the tolerance gate
        val cands = rights.filter(r => r._2 == u && !r._3.after(lt))
        val best = if (cands.isEmpty) None
          else Some(cands.maxBy(r => (r._3.getTime, r._1)))
        lid -> best.filter(b => lt.getTime - b._3.getTime <= tol * 1000L).map(_._1)
      }.toMap
      assert(got == want)
    }
  }

  test("property: xsecRank invariants on random panels (permutation ranks, z sum 0, pct bounds)") {
    val s = spark
    import s.implicits._
    for (_ <- 1 to 4) {
      val nSym = 2 + rnd.nextInt(6)
      val nBuck = 3 + rnd.nextInt(8)
      val rows = for {
        sym <- 0 until nSym; b <- 0 until nBuck
        if rnd.nextDouble() < 0.8 // sparse panel
      } yield (sym.toString, b.toLong, 50.0 + rnd.nextDouble() * 100.0)
      val got = graft.analytics.CrossSection.xsecRank(
        rows.toDF("symbol", "bucket", "close")).collect()
      val byBucket = got.groupBy(_.getLong(1))
      for ((_, g) <- byBucket) {
        val n = g.head.getLong(3)
        assert(g.length == n)
        // ranks and quintiles: 1..n permutation / ntile within bounds
        assert(g.map(_.getInt(4)).sorted.toSeq == (1 to n.toInt).toSeq)
        assert(g.forall(r => r.getInt(5) >= 1 && r.getInt(5) <= 5))
        // pct: null iff singleton, else spans [0, 1]
        if (n == 1) assert(g.head.isNullAt(6))
        else {
          val ps = g.map(_.getDouble(6))
          assert(math.abs(ps.min) < 1e-12 && math.abs(ps.max - 1.0) < 1e-12)
        }
        // z-scores: when defined, sum to ~0 (population standardization)
        val zs = g.filterNot(_.isNullAt(7)).map(_.getDouble(7))
        if (zs.nonEmpty) assert(math.abs(zs.sum) < 1e-8 * g.length)
        // rank order agrees with return order (desc, symbol tie-break)
        val sorted = g.sortBy(_.getInt(4))
        sorted.sliding(2).foreach {
          case Array(hi, lo) =>
            val (rh, rl) = (hi.getDouble(2), lo.getDouble(2))
            assert(rh > rl ||
              (rh == rl && hi.getString(0) < lo.getString(0)))
          case _ =>
        }
      }
    }
  }

  test("property: triangleCounts == brute-force enumeration (random graphs)") {
    val s = spark
    import s.implicits._
    for (round <- 1 to 6) {
      val n = 5 + rnd.nextInt(20)
      val p = 0.15 + rnd.nextDouble() * 0.45
      val edges = (for {
        a <- 0L until n; b <- (a + 1) until n
        if rnd.nextDouble() < p
      } yield (a, b)).toSeq
      if (edges.nonEmpty) {
        // brute force: every id-ordered vertex triple that closes
        val es = edges.toSet
        val naive = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
        for (a <- 0L until n; b <- (a + 1) until n; c <- (b + 1) until n
             if es((a, b)) && es((b, c)) && es((a, c))) {
          naive(a) += 1; naive(b) += 1; naive(c) += 1
        }
        val got = graft.analytics.Graph.triangleCounts(edges.toDF("a", "b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == naive.toMap,
          s"round $round (n=$n, |E|=${edges.size}): $got vs ${naive.toMap}")
      }
    }
  }

  test("property: linkPrediction == brute-force CN/Jaccard/Adamic-Adar (random graphs)") {
    val s = spark
    import s.implicits._
    for (round <- 1 to 5) {
      val n = 6 + rnd.nextInt(14)
      val p = 0.2 + rnd.nextDouble() * 0.3
      val edges = (for {
        a <- 0L until n; b <- (a + 1) until n
        if rnd.nextDouble() < p
      } yield (a, b)).toSeq
      if (edges.nonEmpty) {
        val es = edges.toSet
        val nbrs = (0L until n).map(v => v ->
          edges.collect { case (a, b) if a == v => b
                          case (a, b) if b == v => a }.toSet).toMap
        val naive = (for {
          u <- 0L until n; v <- (u + 1) until n
          if !es((u, v))
          common = nbrs(u) & nbrs(v)
          if common.nonEmpty
        } yield {
          val aa = common.toSeq.sorted
            .map(w => 1.0 / math.log(nbrs(w).size.toDouble)).sum
          (u, v) -> (common.size.toLong,
            common.size.toDouble / (nbrs(u) ++ nbrs(v)).size, aa)
        }).toMap
        // alternate rounds force the SHUFFLED path with the hub-source
        // flush valve (counter cap 1) so the partial-flush + relational-
        // remainder path keeps brute-force coverage; other rounds take the
        // default broadcast wedge-counting path (tiny graph < gate)
        val (mce, bme) = if (round % 2 == 0)
          (1, 0L)
        else (graft.analytics.Graph.LinkPredMaxCounterEntries,
          graft.analytics.Graph.LinkPredBroadcastMaxEdges)
        val got = graft.analytics.Graph
          .linkPrediction(edges.toDF("a", "b"), k = 10000,
            maxCounterEntries = mce, broadcastMaxEdges = bme)
          .collect().map(r => (r.getLong(0), r.getLong(1)) ->
            (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
        assert(got.keySet == naive.keySet,
          s"round $round: pair sets differ ${got.keySet} vs ${naive.keySet}")
        got.foreach { case (k, (cn, jac, aa)) =>
          val (wcn, wjac, waa) = naive(k)
          assert(cn == wcn, s"round $round $k cn")
          assert(math.abs(jac - wjac) < 1e-12, s"round $round $k jaccard")
          assert(math.abs(aa - waa) < 1e-9, s"round $round $k adamic-adar")
        }
      }
    }
  }

  test("property: approx_count_distinct stays inside the rsd envelope (random cardinalities + dup factors)") {
    val s = spark
    import s.implicits._
    // HLL++ with rsd=0.02 (the agg_distinct_approx setting): the estimate's
    // standard error is 2% of the true cardinality; 3σ = 6% is the envelope.
    // Duplication factor must not move the estimate at all — HLL sees a set.
    for (trial <- 1 to 5) {
      val n = 500 + rnd.nextInt(8000)
      val dup = 1 + rnd.nextInt(4)
      val vals = rnd.shuffle(
        (0 until n).flatMap(i => Seq.fill(dup)(s"v${trial}_$i")))
      val est = vals.toDF("v").repartition(4)
        .agg(approx_count_distinct(col("v"), 0.02)).head().getLong(0)
      val relErr = math.abs(est - n).toDouble / n
      assert(relErr <= 0.06,
        s"trial $trial: HLL estimate $est vs exact $n (dup=$dup) — " +
          s"rel err $relErr beyond 3x rsd=0.02")
      // duplication invariance: same value set, different multiplicity
      val est1 = vals.distinct.toDF("v").repartition(4)
        .agg(approx_count_distinct(col("v"), 0.02)).head().getLong(0)
      assert(est == est1, s"trial $trial: duplication moved the HLL estimate")
    }
  }

  test("property: HLL sketch rollup — union-merge equals direct sketch, partition-invariant, inside the rsd envelope") {
    val s = spark
    import s.implicits._
    // lgConfigK=12 (the eventsHllRollup setting): rsd ≈ 1.04/√4096 ≈ 1.6%;
    // 3σ ≈ 5% is the envelope. The mergeability law: estimating the UNION
    // of per-group sketches must equal sketching the whole set directly —
    // registers merge losslessly, so pre-aggregation costs no accuracy.
    for (trial <- 1 to 3) {
      val n = 1000 + rnd.nextInt(5000)
      val groups = 2 + rnd.nextInt(6)
      val rows = (0 until n).map(i => (s"u${trial}_$i", i % groups))
      val df = rows.toDF("u", "g")
      def est(d: org.apache.spark.sql.DataFrame): Long = d
        .groupBy("g").agg(expr("hll_sketch_agg(u, 12)").as("sk"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")).head().getLong(0)
      val direct = df.agg(expr("hll_sketch_estimate(hll_sketch_agg(u, 12))"))
        .head().getLong(0)
      val merged4 = est(df.repartition(4))
      val merged7 = est(df.repartition(7))
      // neither union-vs-direct nor across-partitioning is estimator-
      // BITWISE (partial-merge order decides when coupon mode promotes to
      // registers, and the union target promotes HLL_4 → HLL_8) — the
      // contract is the rsd class: every topology lands within ~2% of
      // every other and 3σ of the truth. That is exactly why the rollup is
      // bench-only rather than oracle-gated.
      for ((a, b, lbl) <- Seq((merged4, direct, "merge4 vs direct"),
        (merged7, direct, "merge7 vs direct"), (merged4, merged7, "4 vs 7"))) {
        assert(math.abs(a - b).toDouble / b <= 0.02, s"trial $trial $lbl: $a vs $b")
      }
      for (m <- Seq(direct, merged4, merged7)) {
        val relErr = math.abs(m - n).toDouble / n
        assert(relErr <= 0.05,
          s"trial $trial: estimate $m vs exact $n — rel err $relErr beyond 3σ")
      }
    }
  }

  test("property: percentile_approx median stays within one rank of the exact frame median (random series/windows)") {
    for (trial <- 1 to 5) {
      val n = 10 + rnd.nextInt(50)
      val w = 2 + rnd.nextInt(20)
      val xs = Seq.fill(n)(math.rint((rnd.nextDouble() - 0.5) * 2e8) / 100.0)
      val frame = Window.partitionBy("symbol")
        .orderBy(col("datetime"), col("event_id")).rowsBetween(-(w - 1), 0)
      val got = column(barsOf(xs).select(col("symbol"), col("event_id"),
        expr("percentile_approx(close, 0.5D, 10000)").over(frame).as("m")), "m")
      xs.indices.foreach { i =>
        val fr = xs.slice(math.max(0, i - (w - 1)), i + 1).sorted
        // percentile_approx returns an ACTUAL element; with accuracy 10000
        // and frames of <= 21 rows the rank error bound n/10000 < 1, so the
        // returned element's rank may differ from the exact median rank by
        // at most one
        val mid = ((fr.length + 1) * 0.5).ceil.toInt - 1 // 0-based exact rank
        val admissible = (math.max(0, mid - 1) to math.min(fr.length - 1, mid + 1))
          .map(fr(_)).toSet
        assert(got(i).isDefined && admissible.contains(got(i).get),
          s"trial $trial row $i (w=$w): approx median ${got(i)} not within " +
            s"one rank of exact (${fr.mkString(",")})")
      }
    }
  }

  test("property: CMS estimate is one-sided (est >= exact for EVERY key) on random streams") {
    import graft.analytics.Sketches
    val s = spark
    import s.implicits._
    for (trial <- 1 to 4) {
      // zipf-ish skew: key = floor(u^3 * K) concentrates mass on low keys
      val k = 20 + rnd.nextInt(300)
      val n = 500 + rnd.nextInt(3000)
      val keys = Seq.fill(n) {
        val u = rnd.nextDouble(); (u * u * u * k).toLong
      }
      val df = keys.toDF("k")
      val sketch = Sketches.cmsSketch(df, col("k"))
      val exact = df.groupBy("k").agg(count(lit(1)).as("n_exact"))
      val est = exact
        .select(col("k"), col("n_exact"),
          explode(lit((0 until Sketches.CmsDepth).toArray)).as("i"))
        .select(col("k"), col("n_exact"), col("i"),
          Sketches.cmsBucket(col("i"), col("k")).as("b"))
        .join(broadcast(sketch), Seq("i", "b"))
        .groupBy("k").agg(max(col("n_exact")).as("n_exact"),
          min(col("c")).as("est"))
      val bad = est.filter(col("est") < col("n_exact")).count()
      assert(bad == 0L, s"trial $trial: $bad keys undercounted — " +
        "Count-Min must never undercount")
      // and the total error is bounded in aggregate: sum(est) <= depth*N
      val sums = est.agg(sum("est"), sum("n_exact")).head()
      assert(sums.getLong(1) == n.toLong)
    }
  }

  test("property: HLL registers are well-formed and estimate tracks exact within 5 sigma") {
    import graft.analytics.Sketches
    val s = spark
    import s.implicits._
    for (trial <- 1 to 4) {
      val n = 200 + rnd.nextInt(8000)
      val df = (0 until n).map(i => ("g", s"key_${trial}_$i")).toDF("grp", "k")
      val regs = Sketches.hllRegisters(df, col("k"), Seq("grp"))
      val badRange = regs.filter(col("bucket") < 0 || col("bucket") > 255 ||
        col("rho") < 1 || col("rho") > 41).count()
      assert(badRange == 0L, s"trial $trial: register out of range")
      val est = Sketches.hllEstimate(regs, Seq("grp")).head().getDouble(1)
      val sigma = 1.04 / math.sqrt(Sketches.HllM) * n
      assert(math.abs(est - n) <= 5 * sigma,
        s"trial $trial: estimate $est vs exact $n beyond 5 sigma ($sigma)")
    }
  }

  test("property: qsketch quantile is a certain lower bound within 1/32 relative of the exact order statistic") {
    import graft.analytics.Sketches
    val s = spark
    import s.implicits._
    val qs = Seq(0.5, 0.9, 0.99)
    for (trial <- 1 to 4) {
      val n = 100 + rnd.nextInt(3000)
      // log-uniform magnitudes across ~6 decades plus planted zeros and
      // sub-64µ values (the exact-bucket regime)
      val xs = Seq.fill(n)(rnd.nextInt(10) match {
        case 0 => 0.0
        case 1 => rnd.nextInt(60) / 1e6
        case _ => math.exp(rnd.nextDouble() * 14.0 - 7.0)
      })
      val df = xs.zipWithIndex.map { case (x, i) => ("g", x, i.toLong) }
        .toDF("g", "value", "id")
      val est = Sketches.qsketchQuantiles(
          Sketches.qsketchCounts(df, col("value"), Seq("g")), Seq("g"), qs)
        .collect().map(r => r.getDouble(1) -> r.getDouble(3)).toMap
      val sorted = xs.sorted
      qs.foreach { q =>
        val exact = sorted(math.max(1, math.ceil(q * n).toInt) - 1)
        val e = est(q)
        // quantization slack: |x − u/1e6| ≤ 0.5e-6 per row, plus the
        // crossing bucket's ≤ 1/32 relative width (≤ 1µ below 64µ)
        assert(e <= exact + 5e-7,
          s"trial $trial q=$q: estimate $e above exact $exact")
        assert(exact <= e * (1.0 + 1.0 / 32.0) + 1.5e-6,
          s"trial $trial q=$q: exact $exact beyond the 1/32 envelope of $e")
      }
    }
  }

  test("property: streaming span-merge is arrival-order-insensitive and equals the sorted gap split") {
    // The invariant the streaming sessionizers stand on: folding events
    // through mergeSpan in ANY arrival order yields exactly the sessions
    // the batch twin's global sort produces. Random times with planted
    // duplicates and near-gap boundaries, random permutations.
    import graft.streaming.Streams.{mergeSpan, SessSpan}
    val gapUs = 1000L
    for (trial <- 1 to 20) {
      val n = 1 + rnd.nextInt(60)
      val ts = Seq.fill(n)(rnd.nextInt(30) match {
        case 0 => 0L // duplicates at the origin
        case k if k < 5 => (k * gapUs) + rnd.nextInt(3) - 1L // boundary ±1
        case _ => math.abs(rnd.nextLong()) % (20L * gapUs)
      })
      // reference: sort, split where the gap strictly exceeds gapUs
      val sorted = ts.sorted
      val ref = sorted.tail.foldLeft(List(List(sorted.head))) { (acc, t) =>
        if (t - acc.head.head > gapUs) List(t) :: acc
        else (t :: acc.head) :: acc.tail
      }.reverse.map(s => SessSpan(s.last, s.head, s.size.toLong))
      for (_ <- 1 to 3) {
        val got = rnd.shuffle(ts).foldLeft(List.empty[SessSpan])(
          (sp, t) => mergeSpan(sp, t, gapUs))
        assert(got == ref,
          s"trial $trial: spans diverge for some arrival order\n got=$got\nref=$ref")
      }
    }
  }
}
