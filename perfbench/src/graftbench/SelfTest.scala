package graftbench

/** The benchmark's own tests: every output check accepts an output that is
  * right by construction and rejects one with a single planted error.
  * Runs without Spark: `python3 perfbench/run.py --workload selftest`.
  */
object SelfTest {
  private var failures = Vector.empty[String]

  private def expect(name: String, accepts: Checks.Failures, rejects: Checks.Failures): Unit = {
    if (accepts.nonEmpty) failures :+= s"$name rejected a right output: ${accepts.head}"
    if (rejects.isEmpty) failures :+= s"$name accepted a wrong output"
    System.err.println(s"[selftest] $name: accepts=${accepts.isEmpty} rejects=${rejects.nonEmpty}")
  }

  def run(): Boolean = {
    // feature_build
    val events = Gen.bars(7, 60)
    val ref = Map(3 -> Checks.referenceFeatures(events, 3))
    val n = events.size - Gen.Symbols
    val badRsi = ref.map { case (s, r) => s -> r.updated(40, r(40).copy(rsi = r(40).rsi.map(_ + 0.5))) }
    expect("features", Checks.checkFeatures(events, Seq(3), ref, n, n),
      Checks.checkFeatures(events, Seq(3), badRsi, n, n))
    expect("features row count", Checks.checkFeatures(events, Seq(3), ref, n, n),
      Checks.checkFeatures(events, Seq(3), ref, n, n - 1))

    // train_walkforward
    val keys = (0 until 100).map(i => (i.toLong / 2 * 1000, i.toLong))
    val (train, test) = keys.splitAt(80)
    val ids = keys.map(_._2)
    val m = Map("accuracy" -> 0.7, "roc_auc" -> 0.75)
    expect("split", Checks.checkSplit(train, test, ids, test.map(_._2), m, 0.6),
      Checks.checkSplit(train :+ test.head, test.tail :+ train.head, ids, test.map(_._2), m, 0.6))
    expect("split coverage", Checks.checkSplit(train, test, ids, test.map(_._2), m, 0.6),
      Checks.checkSplit(train.tail, test, ids, test.map(_._2), m, 0.6))
    expect("scored rows", Checks.checkSplit(train, test, ids, test.map(_._2), m, 0.6),
      Checks.checkSplit(train, test, ids, test.tail.map(_._2), m, 0.6))
    expect("auc margin", Checks.checkSplit(train, test, ids, test.map(_._2), m, 0.6),
      Checks.checkSplit(train, test, ids, test.map(_._2), m + ("roc_auc" -> 0.55), 0.6))

    // query_mix
    val rng = new java.util.SplittableRandom(3)
    val lineitem = (0 until 300).flatMap(o => (0 until 1 + rng.nextInt(5)).map(_ =>
      (o.toLong, (20 * math.pow(rng.nextDouble(), 2)).toLong, rng.nextInt(4).toLong)))
    val pr = Checks.referencePagerank(lineitem)
    val k = pr.keys.head
    expect("pagerank", Checks.checkPagerank(lineitem, pr), Checks.checkPagerank(lineitem, pr.updated(k, pr(k) + 1e-4)))
    val comps = Checks.referenceComponents(lineitem).toSeq.zipWithIndex.flatMap { case (c, i) =>
      c.toSeq.map(v => (v, i.toLong, c.size.toLong)) }
    val merged = comps.map { case (v, c, s) => (v, if (c == 1L) 0L else c, s) }
    expect("components", Checks.checkComponents(lineitem, comps),
      Checks.checkComponents(lineitem, if (comps.map(_._2).distinct.size > 1) merged else comps.tail))
    val docs = Seq(0L -> "a b c d e f g h", 1L -> "a b c d e f g x", 2L -> "q r s t u v")
    val j = { val (x, y) = (Checks.shingles(docs(0)._2), Checks.shingles(docs(1)._2)); (x & y).size.toDouble / (x | y).size }
    expect("minhash", Checks.checkMinhash(docs, Seq((0L, 1L, j))),
      Checks.checkMinhash(docs, Seq((0L, 1L, j), (0L, 2L, 0.6))))
    val emb = (0 until 40).map(v => (v.toLong, Array.fill(8)((rng.nextDouble() - 0.5).toFloat)))
    val truth = Checks.bruteTopK(emb)
    val ann = truth.map { case (p, ns) => ("ivf", p) -> (ns.take(2) :+ 39L) }
    val reported = ann.toSeq.map { case ((mth, p), ns) => (mth, p, ns.size.toLong, ns.count(truth(p).contains).toLong) }
    expect("ann", Checks.checkAnn(emb, ann, reported),
      Checks.checkAnn(emb, ann, reported.map { case (a, b, c, d) => (a, b, c, c) }))

    // stream_replay
    val st = Gen.stream(5, 12, 5, 3)
    val rsi = Checks.referenceRsi(st.distinct)
    val rows = st.distinct.map(e => (e.symbol(Gen.Symbols).toString, e.eventId, Option(rsi(e.symbol(Gen.Symbols).toString))))
    val hour = 3600L * 1000000L
    val lateIds = st.late.map(_.eventId).toSet
    val counts = st.files.flatten.filterNot(e => lateIds(e.eventId)).groupBy(e => (e.tsUs / hour * hour, e.eventType))
      .map { case ((w, t), es) => (w, t, es.size.toLong, es.map(_.value).sum) }.toSeq
    val dropped = Seq(st.late.size.toLong, st.late.size.toLong)
    expect("stream dedup", Checks.checkStream(st, rows, dropped, counts), Checks.checkStream(st, rows.tail, dropped, counts))
    expect("stream rsi", Checks.checkStream(st, rows, dropped, counts),
      Checks.checkStream(st, rows.map { case (s, e, r) => (s, e, r.map(_ * 1.001)) }, dropped, counts))
    expect("stream watermark", Checks.checkStream(st, rows, dropped, counts),
      Checks.checkStream(st, rows, dropped.map(_ - 1), counts))
    expect("stream windows", Checks.checkStream(st, rows, dropped, counts),
      Checks.checkStream(st, rows, dropped, counts.map { case (w, t, c, v) => (w, t, c + 1, v) }))

    failures.foreach(f => System.err.println(s"[selftest] FAILED: $f"))
    failures.isEmpty
  }
}
