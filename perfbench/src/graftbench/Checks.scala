package graftbench

import scala.collection.mutable

/** Output checks, computed in plain Scala from the generated inputs and the
  * formulas in SURVEY.md / FIXTURES.md, or from properties the method must
  * have. None of them calls into the engine. Each returns the list of
  * failures it found (empty when the output is correct).
  */
object Checks {
  type Failures = Seq[String]

  def close(a: Double, b: Double, tol: Double = 1e-6): Boolean =
    math.abs(a - b) <= tol * (1.0 + math.abs(b))

  def closeOpt(a: Option[Double], b: Option[Double], tol: Double = 1e-6): Boolean = (a, b) match {
    case (Some(x), Some(y)) => close(x, y, tol)
    case (None, None) => true
    case _ => false
  }

  // ---------------- feature_build ----------------

  case class FeatRow(eventId: Long, returns: Option[Double], distSma20: Option[Double],
      rsi: Option[Double], bbUpper: Option[Double], bbMiddle: Option[Double],
      bbLower: Option[Double], target: Int)

  /** Reference feature rows for one symbol: returns, SMA-20 distance,
    * RSI(14) on EWMA(span 14, adjust=False) gains/losses, Bollinger(20, 2)
    * with the sample deviation, and the 1-bar forward-direction target.
    * The last bar has no target and is not emitted. */
  def referenceFeatures(events: Seq[Gen.Event], symbol: Int): Seq[FeatRow] = {
    val bars = events.filter(_.symbol(Gen.Symbols) == symbol).sortBy(e => (e.tsUs, e.eventId))
    val c = bars.map(_.value).toArray
    val alpha = 2.0 / 15.0
    var ag = Option.empty[Double]
    var al = Option.empty[Double]
    (0 until c.length - 1).map { t =>
      val ret = if (t == 0) None else Some((c(t) - c(t - 1)) / c(t - 1))
      if (t > 0) {
        val d = c(t) - c(t - 1)
        val (g, l) = (if (d > 0) d else 0.0, if (d < 0) -d else 0.0)
        ag = Some(ag.fold(g)(a => (1 - alpha) * a + alpha * g))
        al = Some(al.fold(l)(a => (1 - alpha) * a + alpha * l))
      }
      val rsi = for (g <- ag; l <- al) yield 100.0 - 100.0 / (1.0 + g / (l + 1e-10))
      val win = if (t >= 19) Some(c.slice(t - 19, t + 1)) else None
      val mid = win.map(_.sum / 20)
      val sd = win.map { w =>
        val m = w.sum / 20
        math.sqrt(w.map(x => (x - m) * (x - m)).sum / 19)
      }
      FeatRow(bars(t).eventId, ret, mid.map(m => (c(t) - m) / (m + 1e-10) * 100),
        rsi, for (m <- mid; s <- sd) yield m + 2 * s, mid,
        for (m <- mid; s <- sd) yield m - 2 * s, if (c(t + 1) > c(t)) 1 else 0)
    }
  }

  def checkFeatures(events: Seq[Gen.Event], symbols: Seq[Int], got: Map[Int, Seq[FeatRow]],
      rowsExpected: Long, rowsRead: Long): Failures = {
    val out = mutable.ArrayBuffer[String]()
    if (rowsRead != rowsExpected)
      out += s"features: read back $rowsRead rows, expected $rowsExpected"
    symbols.foreach { s =>
      val ref = referenceFeatures(events, s)
      val g = got.getOrElse(s, Nil).sortBy(_.eventId)
      if (g.size != ref.size) out += s"features: symbol $s has ${g.size} rows, expected ${ref.size}"
      else ref.zip(g).find { case (r, x) =>
        r.eventId != x.eventId || r.target != x.target ||
          !closeOpt(r.returns, x.returns) || !closeOpt(r.distSma20, x.distSma20) ||
          !closeOpt(r.rsi, x.rsi) || !closeOpt(r.bbUpper, x.bbUpper) ||
          !closeOpt(r.bbMiddle, x.bbMiddle) || !closeOpt(r.bbLower, x.bbLower)
      }.foreach { case (r, x) => out += s"features: symbol $s differs at event ${r.eventId}: got $x, expected $r" }
    }
    out.toSeq
  }

  // ---------------- train_walkforward ----------------

  /** Keys are (datetime µs, event_id), the split's total order. */
  def checkSplit(train: Seq[(Long, Long)], test: Seq[(Long, Long)], labelled: Seq[Long],
      scored: Seq[Long], metrics: Map[String, Double], minAuc: Double): Failures = {
    val out = mutable.ArrayBuffer[String]()
    import scala.math.Ordering.Implicits._
    if (train.isEmpty || test.isEmpty) out += "split: empty side"
    else if (!(train.max < test.min)) out += s"split: train row ${train.max} does not precede test row ${test.min}"
    val ids = (train ++ test).map(_._2)
    if (ids.size != ids.distinct.size) out += "split: a row is on both sides"
    if (ids.sorted != labelled.sorted) out += s"split: train+test (${ids.size}) does not cover the ${labelled.size} labelled rows"
    if (scored.sorted != test.map(_._2).sorted) out += s"scoring: ${scored.size} scored rows for ${test.size} test rows"
    metrics.foreach { case (k, v) =>
      if (!(v >= 0.0 && v <= 1.0)) out += s"metrics: $k = $v outside [0,1]"
    }
    metrics.get("roc_auc") match {
      case Some(a) if a >= minAuc => ()
      case a => out += s"metrics: roc_auc $a below $minAuc on the planted signal"
    }
    out.toSeq
  }

  // ---------------- query_mix ----------------

  /** Damped PageRank (d = 0.85, 10 rounds from 1/N) on the symmetrized
    * distinct supplier-part pairs of lineitem; ids as `s<k>` / `p<k>`. */
  def referencePagerank(lineitem: Seq[(Long, Long, Long)], iters: Int = 10, d: Double = 0.85): Map[String, Double] = {
    val pairs = lineitem.map { case (_, p, s) => (s"s$s", s"p$p") }.distinct
    val edges = pairs ++ pairs.map(_.swap)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
    val n = nodes.size.toDouble
    var rank = nodes.map(_ -> 1.0 / n).toMap
    (0 until iters).foreach { _ =>
      val in = mutable.Map[String, Double]().withDefaultValue(0.0)
      edges.foreach { case (a, b) => in(b) += rank(a) / outdeg(a) }
      rank = nodes.map(v => v -> ((1 - d) / n + d * in(v))).toMap
    }
    rank
  }

  def checkPagerank(lineitem: Seq[(Long, Long, Long)], got: Map[String, Double]): Failures = {
    val ref = referencePagerank(lineitem)
    if (got.keySet != ref.keySet) Seq(s"pagerank: ${got.size} nodes, expected ${ref.size}")
    else ref.collect { case (k, v) if math.abs(got(k) - v) > 2e-6 =>
      s"pagerank: $k = ${got(k)}, power iteration gives $v" }.take(3).toSeq
  }

  /** Co-purchase edges (part pairs sharing at least two orders) and their
    * connected components by union-find, as sets of part keys. */
  def referenceComponents(lineitem: Seq[(Long, Long, Long)]): Set[Set[Long]] = {
    val byOrder = lineitem.groupBy(_._1).values.map(_.map(_._2).distinct)
    val support = mutable.Map[(Long, Long), Int]().withDefaultValue(0)
    byOrder.foreach { ps => for (a <- ps; b <- ps if a < b) support((a, b)) += 1 }
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    support.iterator.collect { case (e, n) if n >= 2 => e }.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    parent.keys.toSeq.groupBy(find).values.map(_.toSet).toSet
  }

  /** `got`: (node, component_id, component_size) rows. */
  def checkComponents(lineitem: Seq[(Long, Long, Long)], got: Seq[(Long, Long, Long)]): Failures = {
    val ref = referenceComponents(lineitem)
    val comps = got.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val out = mutable.ArrayBuffer[String]()
    if (comps != ref) out += s"components: ${comps.size} components, union-find gives ${ref.size}"
    got.groupBy(_._2).foreach { case (c, rows) =>
      if (rows.exists(_._3 != rows.size)) out += s"components: component $c reports a size other than ${rows.size}"
    }
    out.toSeq
  }

  def shingles(text: String): Set[String] = {
    val w = text.split(" ", -1)
    (1 to math.max(w.length - 2, 1)).map(i => w.slice(i - 1, i + 2).mkString(" ")).toSet
  }

  /** Every reported pair's Jaccard index is recomputed exactly from the
    * word-trigram shingle sets and must clear the 0.5 threshold. */
  def checkMinhash(docs: Seq[(Long, String)], got: Seq[(Long, Long, Double)]): Failures = {
    val sh = docs.map { case (d, t) => d -> shingles(t) }.toMap
    val out = mutable.ArrayBuffer[String]()
    if (got.isEmpty) out += "minhash: no pairs reported on a corpus with planted near-duplicates"
    got.foreach { case (a, b, j) =>
      val (x, y) = (sh(a), sh(b))
      val exact = (x & y).size.toDouble / (x | y).size
      if (math.abs(exact - j) > 1e-6 || exact < 0.5) out += s"minhash: pair ($a,$b) reports $j, exact Jaccard $exact"
    }
    out.toSeq
  }

  /** Brute-force cosine top-k (ties to the lower id) for probes 0..9. */
  def bruteTopK(emb: Seq[(Long, Array[Float])], k: Int = 3, probes: Int = 10): Map[Long, Seq[Long]] = {
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    (0 until probes).map(_.toLong).map { p =>
      val pv = emb.find(_._1 == p).get._2
      val np = norm(pv)
      p -> emb.filter(_._1 != p).map { case (id, v) =>
        val dot = pv.indices.map(i => pv(i).toDouble * v(i)).sum
        (id, dot / (np * norm(v)))
      }.sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
    }.toMap
  }

  /** `ann`: each method's returned neighbours per probe; `reported`:
    * (method, probe, n_returned, n_hits). The hits must be the returned
    * neighbours that are in the brute-force top-k. */
  def checkAnn(emb: Seq[(Long, Array[Float])], ann: Map[(String, Long), Seq[Long]],
      reported: Seq[(String, Long, Long, Long)], k: Int = 3): Failures = {
    val truth = bruteTopK(emb, k)
    val out = mutable.ArrayBuffer[String]()
    if (reported.isEmpty) out += "ann: no recall rows"
    reported.foreach { case (m, p, nRet, nHits) =>
      val ret = ann.getOrElse((m, p), Nil)
      val hits = ret.count(truth(p).contains)
      if (ret.size != nRet || hits != nHits)
        out += s"ann: $m probe $p reports $nHits/$nRet hits, brute force gives $hits/${ret.size}"
    }
    out.toSeq
  }

  // ---------------- stream_replay ----------------

  /** Final RSI per symbol: the transformWithState recurrence (EWMA with
    * alpha = 2/15 on gains and losses, seeded by the first delta) over the
    * admitted rows in event-time order. */
  def referenceRsi(distinct: Seq[Gen.Event]): Map[String, Double] =
    distinct.groupBy(_.symbol(Gen.Symbols)).map { case (s, rows) =>
      val c = rows.sortBy(e => (e.tsUs, e.eventId)).map(_.value)
      val alpha = 2.0 / 15.0
      var ag = 0.0; var al = 0.0
      (1 until c.size).foreach { t =>
        val d = c(t) - c(t - 1)
        val (g, l) = (if (d > 0) d else 0.0, if (d < 0) -d else 0.0)
        if (t == 1) { ag = g; al = l } else { ag = ag * (1 - alpha) + alpha * g; al = al * (1 - alpha) + alpha * l }
      }
      s.toString -> (100.0 - 100.0 / (1.0 + ag / (al + 1e-10)))
    }

  /** `rsiRows`: (symbol, event_id, rsi) emitted by the dedup+RSI query;
    * `dropped`: rows each query reported dropped by the watermark;
    * `counts`: (window start µs, event_type, n, value_sum) emitted by the
    * tumbling-count query. */
  def checkStream(st: Gen.Stream, rsiRows: Seq[(String, Long, Option[Double])],
      dropped: Seq[Long], counts: Seq[(Long, String, Long, Double)]): Failures = {
    val out = mutable.ArrayBuffer[String]()
    if (rsiRows.size != st.distinct.size)
      out += s"stream: ${rsiRows.size} rows after dedup, generator has ${st.distinct.size} distinct"
    val last = rsiRows.groupBy(_._1).map { case (s, r) => s -> r.maxBy(_._2)._3 }
    referenceRsi(st.distinct).foreach { case (s, v) =>
      if (!last.get(s).flatten.exists(x => close(x, v, 1e-9))) out += s"stream: final RSI of $s is ${last.get(s)}, recurrence gives $v"
    }
    dropped.foreach { d =>
      if (d != st.late.size) out += s"stream: $d rows dropped by the watermark, ${st.late.size} planted late"
    }
    val hour = 3600L * 1000000L
    val lateIds = st.late.map(_.eventId).toSet
    val ref = st.files.flatten.filterNot(e => lateIds(e.eventId))
      .groupBy(e => (e.tsUs / hour * hour, e.eventType))
      .map { case (k, es) => k -> (es.size.toLong, es.map(_.value).sum) }
    if (counts.isEmpty) out += "stream: no closed tumbling window emitted"
    counts.foreach { case (w, t, n, v) =>
      ref.get((w, t)) match {
        case Some((rn, rv)) if rn == n && close(v, rv, 1e-9) => ()
        case r => out += s"stream: window ($w,$t) counts ($n,$v), expected $r"
      }
    }
    out.toSeq
  }
}
