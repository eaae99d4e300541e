package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.source.Checkpoint
import graft.source.Checkpoint.PinOps

/** Iterative graph centrality over entity co-occurrence — the authority
  * ranking a large-scale curation pipeline runs over its link/citation
  * graph (web corpora rank domains by exactly this before sampling).
  *
  * Scale shape: the edge list is hash-partitioned once and reused every
  * round (persisted — ranks re-shuffle TO it, never the reverse); each
  * iteration is ONE shuffle join + ONE grouped sum, the same per-round
  * cost envelope as [[graft.text.Dedup]]'s connected components; ranks are
  * localCheckpoint'ed per round to truncate the 10-deep lineage. Driver
  * state is two scalars (node count, iteration counter) — never a
  * collected vertex set.
  */
object Graph {

  val PrDamping = 0.85
  val PrIters = 10

  /** Rank tables at or below this node count are broadcast to the edge
    * partitions each round (a hash table of ≤1M (string, double) rows);
    * above it, the round degrades to the co-partitioned shuffle join — the
    * web-scale path, where ranks and edges share one hashpartitioning and
    * the join needs no exchange at all. Same degrade-gracefully pattern as
    * [[graft.text.Dedup]]'s HotKeyBroadcastMax. */
  val RankBroadcastMaxNodes = 1000000L

  /** Edge count at or below which [[triangleCounts]] broadcasts the
    * oriented adjacency table to both attach joins (~8 packed longs per
    * edge → ≤64 MB); above it both joins degrade to co-partitioned
    * shuffles on u / v. */
  val AdjBroadcastMaxEdges = 8000000L

  /** Target edge rows per task for the per-round edge scan on the
    * broadcast-rank path. The pinned edge list inherits the setup
    * shuffle's partition count — sized by AQE for the SETUP's bytes, not
    * for the per-round join probe — so a 160k-edge graph at sf0.1 scanned
    * 16+ blocks per round and paid 16 task constants ~10 times per query.
    * The grain is MEASURED, not guessed: the string-keyed broadcast probe
    * + partial agg runs ~3 µs/row here, and the r14 A/B showed 16 tasks
    * of 10k rows cost 2.7 s of summed task time for work ONE task does in
    * 0.55 s (per-task constants dominate below ~25k rows), while a single
    * task serializes the round (wall 0.55 s vs 0.22 s). ~25k rows ≈ 75 ms
    * of real work per task — small enough to parallelize every graph this
    * path serves, large enough that task constants stay <20% — and the
    * 4×parallelism cap, not this grain, is what sizes a billion-edge
    * graph's scan. */
  val RoundEdgeRowsPerTask = 25000L

  /** Coalesce a pinned edge list to the fewest partitions its row count
    * justifies ([[RoundEdgeRowsPerTask]]) for the per-round scans of the
    * broadcast-rank path. Narrow (no shuffle): each scan just concatenates
    * checkpoint blocks. Capped at 4× parallelism so a huge-but-broadcast-
    * able graph keeps every core busy. */
  private[graft] def roundSized(e: DataFrame, m: Long): DataFrame = {
    val cores = e.sparkSession.sparkContext.defaultParallelism.toLong
    val p = math.max(1L, math.min(cores * 4,
      (m + RoundEdgeRowsPerTask - 1) / RoundEdgeRowsPerTask)).toInt
    if (p < e.rdd.getNumPartitions) e.coalesce(p) else e
  }

  /** Edge rows per REDUCE partition for the iterative loops' shuffles.
    * Every post-setup shuffle in the rank/coreness loops is a node-table
    * aggregate whose input is map-side-combined, so per-reducer work is
    * tiny and per-reducer CONSTANTS (map-status tracking, M×R shuffle
    * blocks, AQE coalesce bookkeeping ×10 rounds) dominate on small
    * graphs: the r14 sweep at sf0.1 (1.18M-edge graph) measured pagerank
    * 6.1 s at the session's 32 shuffle partitions vs 4.1-4.3 s at 4-8,
    * climbing again at 1 (serial reduce). ~150k edge rows per reducer
    * puts a 1M-edge graph at ~8 partitions while any cluster-sized graph
    * saturates the SESSION value, which stays the cap — so on a real
    * deployment the override is a no-op and the knob only shrinks
    * small-graph latency. */
  val EdgeRowsPerShufflePartition = 150000L

  /** Run `f` (an iterative loop: plans AND executes its rounds inside)
    * with `spark.sql.shuffle.partitions` derived from the edge count `m`,
    * restoring the session value after. Plans built lazily inside but
    * executed later (the operator's final output) are unaffected — the
    * conf is read at each action's planning. */
  private[graft] def withRoundShuffle[T](session: SparkSession, m: Long)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = session.conf.get(key)
    val p = math.max(1L, math.min(old.toLong,
      (m + EdgeRowsPerShufflePartition - 1) / EdgeRowsPerShufflePartition))
    session.conf.set(key, p.toString)
    try f finally session.conf.set(key, old)
  }

  /** PageRank with uniform teleport over an ARBITRARY directed edge list
    * (`src`, `dst` string columns). The node set is src ∪ dst, so a raw
    * link graph keeps its dst-only nodes (the web-corpus case: pages that
    * are linked to but never crawled as sources), and dangling nodes
    * (outdeg = 0) redistribute their mass uniformly each round:
    *
    *   rank_0(v)     = 1/N
    *   rank_{i+1}(v) = (1−d)/N + d · (Σ_{u→v} rank_i(u) / outdeg(u) + D_i/N)
    *   D_i           = Σ_{dangling u} rank_i(u)
    *
    * so total rank mass stays exactly 1 on any graph (the PropSpec
    * invariant). Each round is ONE wide shuffle: the rank join is broadcast
    * (small graphs) or co-partitioned with the checkpointed edge list
    * (large graphs — both sides hash-partitioned on their join key, no
    * exchange), and the teleport term folds into the contribution aggregate
    * via a narrow union of one zero-contribution row per node, so no second
    * join materializes. The dangling mass D_i is computed IN-PLAN: a 1-row
    * aggregate over the checkpointed ranks joined to the checkpointed
    * dangling node set, crossJoined (broadcast) into the round — so a
    * dangling graph still runs ONE job per round, with no per-round driver
    * scalar action and never a collected vertex set; on
    * graphs with NO dangling nodes (every symmetrized graph) the aggregate
    * is skipped entirely and the addend is an exact +0.0, so ranks are
    * bit-identical to the historic source-only formulation and the
    * symmetric-graph oracle needs no dangling term. The per-node addend
    * multiset matches the textbook left-join formulation (the zero rows add
    * exact +0.0), so ranks are bit-stable against it to float-sum-order,
    * which the 6-decimal output rounding absorbs (see the oracle's note).
    *
    * @param tol when set, stop as soon as the L1 rank delta of a round is
    *   at or below it (checked against the previous round; one extra
    *   co-partitioned join + scalar aggregate per round). At 100× scale
    *   wasted rounds are the dominant iterative cost, and PageRank's
    *   geometric convergence makes the last rounds no-ops on
    *   fast-converging graphs. An early exit after round k returns ranks
    *   bit-identical to `pageRank(iters = k)` — the rounds already run are
    *   not approximated, only the remaining ones skipped.
    */
  def pageRank(edges: DataFrame, iters: Int = PrIters,
      damping: Double = PrDamping, tol: Option[Double] = None): DataFrame =
    pageRankWithRounds(edges, iters, damping, tol)._1

  /** Early-exit tolerance for [[graft.queries.Analytics.graphPagerankDirected]]:
    * the customer→part graph contracts its L1 rank delta ~0.36×/round
    * (measured identically at sf0.001/0.01/0.1), so 1.2e-3 sits at the
    * geometric midpoint of the round-6/round-7 delta gap (2.0e-3 / 7.3e-4)
    * and the run exits after 7 of the 10 budget rounds at every SF. The
    * oracle replays the full budget with the same per-round stop test —
    * post-exit rounds pass ranks through unchanged (exact no-ops), so the
    * early-exited run and the budget replay agree bit-for-bit (the kcore
    * fixed-budget pattern, generalized to float recursions). The margin
    * guard in the query turns a delta landing within 10% of tol (possible
    * on regenerated testdata; would make the cross-engine stop decision
    * float-fragile) into a loud failure. */
  val PrDirectedTol = 1.2e-3

  /** First round at which the tol test runs (both engines): rounds below
    * this never stop. The early rounds' deltas sit orders above tol
    * (margin-guarded at the exit), so skipping their checks changes
    * nothing semantically — but each skipped check is one fewer per-round
    * driver action, which is the dominant cost of a round at small scale
    * (the delta join itself is co-partitioned and tiny). */
  val PrDirectedTolFrom = 6

  /** [[pageRank]] plus the number of rounds actually run and the per-round
    * L1 deltas (tol runs only; one Double per executed round) — the
    * observables the early-exit spec and the oracle-parity margin guard
    * pin (fewer rounds on a fast-converging graph, output bit-identical to
    * the fixed-round run of the same length). With `seeds` it is the loop
    * of [[personalizedPageRank]]: the same setup, rounds and checkpoints,
    * with the restart terms of [[rankSetup]]'s seeded branch. */
  private[graft] def pageRankWithRounds(edges: DataFrame, iters: Int = PrIters,
      damping: Double = PrDamping, tol: Option[Double] = None,
      tolFrom: Int = 1, seeds: Option[DataFrame] = None): (DataFrame, Int, List[Double]) = {
    val st = rankSetup(edges, seeds, damping)
    var ranks = st.ranks0
    var round = 0
    var converged = false
    var deltas = List.empty[Double]
    // per-round pin via the stride policy: identical eager local
    // checkpoint locally, k-th-round durable pins on a cluster
    val rounds = new Checkpoint.Rounds(edges.sparkSession)
    // the loop's shuffles are all node-table-sized — run them at the
    // edge-count-derived partition count (see EdgeRowsPerShufflePartition)
    val sealedRanks = withRoundShuffle(edges.sparkSession, st.m) {
      while (round < iters && !converged) {
        val next = rounds.pin(prRound(st, ranks))
        // checks before round `tolFrom` are skipped BY RULE (mirrored by the
        // oracle replay): each check is a per-round driver action, and the
        // early deltas sit orders above any useful tol
        if (round + 1 >= tolFrom) tol.foreach { t =>
          // both sides are hash-partitioned on node (groupBy output /
          // checkpointed prior round) — the delta join needs no exchange
          val row = next
            .join(ranks.select(col("node"), col("rank").as("_prev")), "node")
            .agg(sum(abs(col("rank") - col("_prev")))).head()
          val d = if (row.isNullAt(0)) Double.PositiveInfinity else row.getDouble(0)
          deltas ::= d
          converged = d <= t
        }
        ranks = next
        round += 1
      }
      rounds.seal(ranks)
    }
    // the cpn carry column is round-internal; the contract stays (node, rank)
    (sealedRanks.select("node", "rank"), round, deltas.reverse)
  }

  /** What every round of a damped rank loop reads, fixed once by
    * [[rankSetup]]: the round edge layout `e`, the zero-contribution rows
    * `zeros` (node, c = 0.0, outdeg, then the restart's per-node inputs),
    * the round-0 ranks, the restart terms, the dangling-node set (None
    * when no node is dangling) and the node and edge counts.
    *
    * `teleport` is the per-node restart addend and `share` maps the
    * round's dangling mass D to a node's share of it — (1−d)/N and D/N for
    * [[pageRank]], (1−d)·tp and D·tp for [[personalizedPageRank]]. Each
    * keeps its own double operations in its own order, so neither
    * recursion's ranks depend on the other's. */
  private[graft] final case class RankSetup(e: DataFrame, zeros: DataFrame,
      ranks0: DataFrame, teleport: Column, share: Column => Column,
      damping: Double, dangling: Option[DataFrame], n: Long, m: Long)

  /** The setup of [[pageRankWithRounds]]: `seeds` (a `node` column) turns
    * the uniform restart into the seed indicator of [[personalizedPageRank]].
    * Fails when seeds are given and none of them is a node. */
  private[graft] def rankSetup(edges: DataFrame, seeds: Option[DataFrame],
      damping: Double): RankSetup = {
    // the RAW edge list materializes first: the node table and every round
    // derive from it, and without this checkpoint each derivation
    // re-evaluates the caller's edge plan (a fact-table scan + distinct
    // for every registered graph) — measured ~2 s of redundant scans per
    // query at sf0.1
    val e0 = edges.pinned()
    // node table with outdeg (and PPR's seed flag): ONE pinned pass + one
    // 1-row action yield the node, dangling, seed and edge (sum of outdeg)
    // counts. outdeg rides the union's src-marker, and rank/outdeg is
    // divided on the node-sized rank side ([[prRound]]), so the rounds scan
    // the RAW 2-column edge list.
    val deg = e0.select(col("src").as("node"), lit(1L).as("o"))
      .unionAll(e0.select(col("dst").as("node"), lit(0L).as("o")))
      .groupBy("node").agg(sum(col("o")).as("outdeg"))
    val nodeTab = seeds.fold(deg) { sd =>
      deg.join(sd.select(col("node")).distinct().withColumn("_seed", lit(true)),
          Seq("node"), "left")
        .select(col("node"), col("outdeg"), col("_seed").isNotNull.as("is_seed"))
    }.pinned()
    val cnts = nodeTab.agg(count(lit(1)),
      Seq(sum((col("outdeg") === 0L).cast("long")), sum(col("outdeg"))) ++
        seeds.map(_ => sum(col("is_seed").cast("long"))): _*).head()
    val n = cnts.getLong(0)
    val nDangling = if (cnts.isNullAt(1)) 0L else cnts.getLong(1)
    val m = if (cnts.isNullAt(2)) 0L else cnts.getLong(2)
    // `t` is the restart distribution over the node table and the round-0
    // rank; the restart terms reach the round through `teleport`/`share`,
    // PPR's tp as a column carried on the zero-contribution rows
    val (t, teleport, share) = seeds match {
      case None =>
        (lit(1.0 / n), lit(1.0 - damping) / lit(n.toDouble),
          (d: Column) => d / lit(n.toDouble))
      case Some(_) =>
        val nSeeds = if (cnts.isNullAt(3)) 0L else cnts.getLong(3)
        require(nSeeds > 0, "personalizedPageRank: no seed appears in the graph")
        (when(col("is_seed"), lit(1.0 / nSeeds)).otherwise(lit(0.0)),
          lit(1.0 - damping) * col("tp"), (d: Column) => d * col("tp"))
    }
    // broadcast-path rounds scan the raw pinned edges (coalesced to the
    // fewest tasks the row count justifies); above the broadcast gate the
    // edges are hash-partitioned on src ONCE so every round's rank join is
    // co-partitioned — the repartition is skipped on the broadcast path,
    // where the rank side ships to the edges and e's partitioning is moot
    val e =
      if (n <= RankBroadcastMaxNodes) roundSized(e0, m)
      else e0.repartition(col("src")).pinned()
    // every node appears in `zeros` exactly once; map-side partial
    // aggregation collapses the edge rows before the exchange, so the
    // carried columns never inflate the wide shuffle beyond node-sized
    // partials
    val zeros = nodeTab.select(Seq(col("node"), lit(0.0).as("c"), col("outdeg")) ++
      seeds.map(_ => t.as("tp")): _*)
    val ranks0 = nodeTab.select(col("node"), t.as("rank"),
      when(col("outdeg") > 0L, t / col("outdeg")).otherwise(lit(0.0)).as("cpn"))
    // dangling = dst-only nodes (no outgoing edge); their per-round rank
    // sum is the redistribution term — a filter over the pinned node table
    val dangling =
      if (nDangling == 0L) None
      else Some(nodeTab.filter(col("outdeg") === 0L).select("node"))
    RankSetup(e, zeros, ranks0, teleport, share, damping, dangling, n, m)
  }

  /** One damped rank round. Exposed pre-checkpoint so PlanSpec can assert
    * the physical shape: ONE join (the rank table onto the raw 2-column
    * edge list — broadcast below [[RankBroadcastMaxNodes]], co-partitioned
    * above it) + ONE wide shuffle (the contribution aggregate). The
    * per-edge contribution rank/outdeg is a per-NODE constant, so `ranks`
    * carries it precomputed as `cpn` (each round's output derives the next
    * round's cpn in the same projection — N divisions per round, not M),
    * and the zero-contribution rows carry `outdeg` (and PPR's `tp`) so
    * max() inside the contribution aggregate recovers them without any
    * per-round join back to the node table. On a graph with dangling
    * nodes, their rank mass D is computed IN-PLAN as a 1-row aggregate
    * crossJoined (broadcast) into the round, so the round still runs ONE
    * job — no per-round driver scalar action. On dangling-free graphs D is
    * an exact +0.0 literal, preserving bit-parity with the historic
    * round. */
  private[graft] def prRound(st: RankSetup, ranks: DataFrame): DataFrame = {
    val rc = ranks.select(col("node"), col("cpn"))
    val r = if (st.n <= RankBroadcastMaxNodes) broadcast(rc) else rc
    // every zeros column past (node, c) is per-node: NULL on the edge rows
    val carried = st.zeros.schema.fields.toSeq.drop(2)
    val contribs = st.e.join(r, st.e("src") === r("node"))
      .select(Seq(col("dst").as("node"), col("cpn").as("c")) ++
        carried.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
      .unionAll(st.zeros) // teleport floor for nodes with no inbound mass
      .groupBy("node")
      .agg(sum(col("c")).as("_s"), carried.map(f => max(col(f.name)).as(f.name)): _*)
    val (withD, d) = st.dangling match {
      case None => (contribs, lit(0.0))
      case Some(dang) =>
        val dm = ranks.join(dang, "node")
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("_dm"))
        (contribs.crossJoin(broadcast(dm)), col("_dm"))
    }
    withD.select(col("node"),
        (st.teleport + lit(st.damping) * (col("_s") + st.share(d))).as("rank"),
        col("outdeg"))
      .select(col("node"), col("rank"),
        when(col("outdeg") > 0L, col("rank") / col("outdeg"))
          .otherwise(lit(0.0)).as("cpn"))
  }

  /** Personalized PageRank (random walk with restart to a SEED set) over an
    * arbitrary directed edge list — the "influence from these nodes" query a
    * curation pipeline runs to weight a corpus toward a trusted domain list
    * (seed-biased importance sampling):
    *
    *   tp(v)         = 1/|S ∩ nodes| for seeds, 0 otherwise
    *   rank_0        = tp
    *   rank_{i+1}(v) = (1−d)·tp(v) + d·(Σ_{u→v} rank_i(u)/outdeg(u) + D_i·tp(v))
    *
    * i.e. exactly [[pageRank]] with the uniform teleport vector replaced by
    * the seed indicator — dangling mass restarts at the seeds too, so total
    * mass stays 1 and nodes unreachable from S keep rank exactly 0.0 (the
    * spec invariant). Seeds outside the node set are ignored (they have no
    * edges to walk).
    *
    * Scale shape: [[pageRank]]'s own loop — the seed flag rides the pinned
    * node table and `tp` the zero-contribution rows, so the round keeps
    * ONE join + ONE wide shuffle; never a collected vertex or seed set on
    * the driver. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int = PrIters, damping: Double = PrDamping): DataFrame =
    pageRankWithRounds(edges, iters, damping, seeds = Some(seeds))._1

  /** Wedge centers above this degree are excluded from [[linkPrediction]]
    * candidate generation. A center of degree k fans out k(k−1)/2 wedge
    * rows, so super-hubs turn the wedge exchange quadratic — and they are
    * precisely the centers Adamic–Adar's 1/ln(deg) weight sends toward
    * zero (the standard web-scale practice: a node connected to everything
    * predicts nothing). The cap is the scale knob: it bounds the wedge
    * shuffle at cap²/2 rows per center regardless of graph size, and the
    * oracle applies the identical cap so parity holds at any SF. */
  val LinkPredMaxCenterDegree = 256

  /** Counter-entry cap per source group in [[topPairsPerSource]]: a hub
    * SOURCE node's candidate set is unbounded (its degree is not capped —
    * only wedge centers are), so a group whose counter would exceed this
    * flushes partial counts as rows and lets the relational tail finish
    * them. ~1M entries ≈ tens of MB — far below executor memory, far above
    * any non-adversarial group. */
  val LinkPredMaxCounterEntries: Int = 1 << 20

  /** Edge-count gate for [[linkPrediction]]'s broadcast wedge counting: at
    * or below this many (undirected, canonical a<b) edges, the FULL sorted
    * adjacency is collected and broadcast (~2·m ids in primitive arrays —
    * 16M edges ≈ 256 MB, the "few hundred MB is usually fine" broadcast
    * class, far under the 8 GB cap) and wedge counting runs MAP-SIDE over
    * the node table: the Θ(#wedges) suffix-array exchange AND the grouped
    * per-source counter stage both disappear (guide §2.4 — a broadcast
    * replaces the shuffle of the big side; here the "big side" is the
    * wedge stream, ~80× the edge bytes on the sf0.1 co-purchase graph).
    * Above the gate the shuffled shape below runs unchanged, so the knob
    * is scale-adaptive, not a local-mode constant: sf0.1 (1.2M edges) and
    * sf1 (9M) broadcast; sf10 (~90M) and beyond shuffle. */
  val LinkPredBroadcastMaxEdges: Long = 16000000L

  /** Per-source-node wedge counting + bounded selection for
    * [[linkPrediction]]: groups the (u, w, vs) contribution rows by u,
    * tallies cn locally, drops v ∈ N(u) (the group's w-stream), and emits
    * u's top `k` by (cn DESC, v) flagged `done = true`.
    *
    * Hub-source safety valve: a group whose counter exceeds
    * `maxCounterEntries` (possible only when deg(u)·cap outgrows it —
    * hub sources) FLUSHES its partial counts as `done = false` rows and
    * keeps going with an empty counter; each wedge lands in exactly one
    * flush, so summing the partials downstream reproduces cn exactly, and
    * the relational tail (groupBy sum → edge anti-join → global
    * TakeOrdered) finishes those pairs with no per-node hot spot. Memory
    * per task stays bounded no matter the degree distribution. */
  private def topPairsPerSource(contrib: DataFrame, e: DataFrame, k: Int,
      maxCounterEntries: Int): DataFrame = {
    val sess = contrib.sparkSession
    import sess.implicits._
    val candOrd: Ordering[(Long, Long)] =
      Ordering.Tuple2(Ordering.Long.reverse, Ordering.Long).on { case (v, c) => (c, v) }
    val raw = contrib.as[(Long, Long, Array[Long])]
      .groupByKey(_._1)
      .flatMapGroups { (u: Long, it: Iterator[(Long, Long, Array[Long])]) =>
        val nu = new java.util.HashSet[Long]()
        val cnt = new java.util.HashMap[Long, Long]()
        var flushed = List.empty[Iterator[(Long, Long, Long, Boolean)]]
        it.foreach { case (_, w, vs) =>
          if (flushed.isEmpty) nu.add(w) // probe set unused once flushing
          var i = 0
          while (i < vs.length) {
            cnt.merge(vs(i), 1L, java.lang.Long.sum _)
            i += 1
          }
          if (cnt.size > maxCounterEntries) {
            val part = new Array[(Long, Long, Long, Boolean)](cnt.size)
            var j = 0
            cnt.forEach { (v, c) => part(j) = (u, v, c, false); j += 1 }
            cnt.clear()
            flushed = part.iterator :: flushed
          }
        }
        if (flushed.isEmpty) {
          val cand = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
          cnt.forEach { (v, c) => if (!nu.contains(v)) cand += ((v, c)) }
          cand.sortInPlace()(candOrd)
          cand.take(k).iterator.map { case (v, c) => (u, v, c, true) }
        } else {
          val rest = new Array[(Long, Long, Long, Boolean)](cnt.size)
          var j = 0
          cnt.forEach { (v, c) => rest(j) = (u, v, c, false); j += 1 }
          (rest.iterator :: flushed).reduceLeft(_ ++ _)
        }
      }
      .toDF("u", "v", "cn", "done")
      .pinned() // both branches below read it; compute once
    val fast = raw.filter(col("done")).select("u", "v", "cn")
    // hub-source remainder: complete the counts relationally, anti-join
    // existing edges, and hand the candidates straight to the global
    // TakeOrdered (a per-partition heap — no per-u hot partition). The
    // anti-join is SYMMETRIC (both orientations) so this path excludes
    // exactly what the fast path's N(u) probe set excludes — identical
    // semantics regardless of which side of the valve a group lands on,
    // even for a non-canonical (b > a or doubly-oriented) edge row; on
    // contract-canonical a < b input the second branch matches nothing.
    val hub = raw.filter(!col("done"))
      .groupBy("u", "v").agg(sum(col("cn")).as("cn"))
      .join(e.select(col("a").as("u"), col("b").as("v"))
          .unionAll(e.select(col("b").as("u"), col("a").as("v"))),
        Seq("u", "v"), "left_anti")
      .select("u", "v", "cn")
    fast.unionByName(hub)
  }

  /** Map-side wedge counting under [[LinkPredBroadcastMaxEdges]]: the full
    * sorted adjacency is broadcast, and each task counts its nodes' wedges
    * against it — ZERO wedge shuffle (the suffix-array exchange and the
    * grouped counter stage of [[topPairsPerSource]] both disappear), no
    * flush valve needed (the per-u counter is bounded by |V| ≤ m+1, which
    * the gate already bounds). Semantics are identical by construction:
    * for u, each w ∈ N(u) with deg(w) ≤ cap contributes its strictly-
    * greater suffix once; v ∈ N(u) is dropped; u's top k by (cn DESC, v)
    * survive — the same per-u prefix the shuffled path emits.
    *
    * Wedges are tallied with a primitive sort + run-length scan (no
    * boxing, no per-wedge hashing — the garbage of ~10⁸ boxed HashMap
    * merges was exactly the debris class r14's bench valve existed for)
    * and top-k is selected with a primitive 2-array heap. */
  private def topPairsBroadcast(adj: DataFrame, k: Int,
      cap: Int): DataFrame = {
    val sess = adj.sparkSession
    import sess.implicits._
    // the counting stage is pure CPU (Θ(#wedges) per task) over a tiny
    // input, but the pinned adj is AQE-coalesced by its BYTE size — fan
    // the node table back out to the session width so the count uses
    // every core (explicit numPartitions: AQE must not re-coalesce)
    val width = sess.conf.get("spark.sql.shuffle.partitions").toInt
    val typed = adj.select("w", "ns").as[(Long, Array[Long])]
    val local = typed.collect()
    val amap = new java.util.HashMap[java.lang.Long, Array[Long]](
      local.length * 2)
    local.foreach { case (w, ns) => amap.put(w, ns) }
    val bc = sess.sparkContext.broadcast(amap)
    typed.repartition(width).mapPartitions { it =>
      val m = bc.value
      var buf = new Array[Long](4096) // wedge-endpoint buffer, reused per u
      it.flatMap { case (u, nu) =>
        var len = 0
        var i = 0
        while (i < nu.length) {
          val nsw = m.get(nu(i))
          if (nsw.length <= cap) {
            var j = java.util.Arrays.binarySearch(nsw, u)
            j = if (j >= 0) j + 1 else -j - 1
            val add = nsw.length - j
            if (add > 0) {
              if (len + add > buf.length)
                buf = java.util.Arrays.copyOf(buf,
                  math.max(buf.length * 2, len + add))
              System.arraycopy(nsw, j, buf, len, add)
              len += add
            }
          }
          i += 1
        }
        java.util.Arrays.sort(buf, 0, len)
        // run-length scan over the sorted endpoints; keep u's top k by
        // (cn DESC, v ASC) in a size-k heap whose root is the WORST kept
        val hv = new Array[Long](k)
        val hc = new Array[Long](k)
        var hn = 0
        // (c1,v1) strictly worse than (c2,v2) under (cn DESC, v ASC)
        def worse(c1: Long, v1: Long, c2: Long, v2: Long): Boolean =
          c1 < c2 || (c1 == c2 && v1 > v2)
        def swap(a: Int, b: Int): Unit = {
          val tv = hv(a); hv(a) = hv(b); hv(b) = tv
          val tc = hc(a); hc(a) = hc(b); hc(b) = tc
        }
        var p = 0
        while (p < len) {
          val v = buf(p)
          var q = p + 1
          while (q < len && buf(q) == v) q += 1
          val c = (q - p).toLong
          if (java.util.Arrays.binarySearch(nu, v) < 0) { // not adjacent
            if (hn < k) {
              hv(hn) = v; hc(hn) = c; hn += 1
              var idx = hn - 1
              while (idx > 0 &&
                  worse(hc(idx), hv(idx), hc((idx - 1) >> 1), hv((idx - 1) >> 1))) {
                swap(idx, (idx - 1) >> 1); idx = (idx - 1) >> 1
              }
            } else if (worse(hc(0), hv(0), c, v)) {
              hv(0) = v; hc(0) = c
              var idx = 0
              var done = false
              while (!done) {
                val l = 2 * idx + 1; val r = l + 1
                var w = idx
                if (l < hn && worse(hc(l), hv(l), hc(w), hv(w))) w = l
                if (r < hn && worse(hc(r), hv(r), hc(w), hv(w))) w = r
                if (w == idx) done = true else { swap(idx, w); idx = w }
              }
            }
          }
          p = q
        }
        (0 until hn).iterator.map(x => (u, hv(x), hc(x)))
      }
    }.toDF("u", "v", "cn")
  }

  /** Link prediction over an undirected (a < b) edge list: for every
    * NON-adjacent pair with at least one common neighbor, the three
    * classic scores —
    *
    *   cn      = |N(u) ∩ N(v)|                 (common neighbors)
    *   jaccard = cn / |N(u) ∪ N(v)|
    *   aa      = Σ_{w ∈ N(u)∩N(v)} 1 / ln(deg w)   (Adamic–Adar)
    *
    * — keeping the global top `k` by the INTEGER key (cn DESC, u, v), so
    * the selection boundary is bit-deterministic across engines (ranking
    * by a float score would let 1-ulp cross-engine drift flip ties at the
    * cut; aa and jaccard ride along as reported columns).
    *
    * Scale shape, two-path: at or below [[LinkPredBroadcastMaxEdges]] the
    * sorted adjacency broadcasts and wedges are counted MAP-SIDE with no
    * wedge shuffle at all ([[topPairsBroadcast]]); above it, each
    * wedge u−w−v is generated at its center w as the strictly-greater
    * suffix of w's sorted neighbor array and counted per source by
    * [[topPairsPerSource]]. On both paths centers above
    * [[LinkPredMaxCenterDegree]] are excluded (see its note), bounding
    * the wedge volume; existing edges are dropped against N(u); only each
    * u's (cn DESC, v) top-k survives to the global TakeOrdered. Degree-1
    * centers form no wedge, so 1/ln(deg) never divides by zero.
    *
    * Node ids must be bigint (anything else fails fast): a caller with
    * other ids encodes them at the boundary and decodes the output, as
    * the packed edge builders and [[unpackNode]] do. */
  def linkPrediction(edges: DataFrame, k: Int = 100,
      maxCenterDegree: Int = LinkPredMaxCenterDegree,
      maxCounterEntries: Int = LinkPredMaxCounterEntries,
      broadcastMaxEdges: Long = LinkPredBroadcastMaxEdges): DataFrame = {
    val idType = edges.schema("a").dataType
    require(idType == LongType,
      s"linkPrediction: node ids must be bigint, got ${idType.simpleString}")
    val e = edges.pinned()
    val nb = e.select(col("a").as("w"), col("b").as("n"))
      .unionAll(e.select(col("b").as("w"), col("a").as("n")))
    // materialized once: feeds the wedge generator, both top-pair attach
    // joins, and the degree lookups — the collect_list aggregate is the
    // plan's most expensive non-wedge stage and must not run per consumer
    val adj = nb.groupBy("w")
      .agg(sort_array(collect_list(col("n"))).as("ns"))
      .withColumn("d", size(col("ns")))
      .pinned()
    // Wedge counting, grouped at the wedge's LOWER endpoint u rather than
    // flattened to (u, v) rows: every neighbor w of u ships the
    // strictly-greater suffix of its sorted adjacency (so u < v and each
    // common sub-cap neighbor contributes exactly once), and a per-u local
    // counter tallies cn for all v at once. Why not the flat
    // groupBy(u, v).count: candidate-pair cardinality is Θ(Σd²) (10⁸ at
    // sf0.1) — a flat plan materializes that key space THREE times (final
    // hash aggregate, anti-join against the edge list, TakeOrdered input).
    // Here the shuffle still carries the honest Θ(#wedges) bytes — the
    // suffix arrays, ~8 B/wedge, with capped centers shipping empty
    // arrays — but pair keys never exist outside a per-group counter, the
    // edge anti-check is a local set probe (the group's w-stream IS N(u),
    // shipped uncapped so the probe set is exact even when centers are
    // capped), and only each u's (cn DESC, v) top-k survives to the global
    // TakeOrdered — ≤ k·|V| rows instead of 10⁸. Exact by prefix argument:
    // the global top-k restricted to a fixed u is a prefix of u's local
    // order, so per-u top-k loses nothing. Typed flatMapGroups is the
    // deliberate escape hatch here (same justification as the multimodal
    // decoder): the per-group dense counter + bounded selection has no
    // Catalyst equivalent that avoids re-materializing the pair key space.
    lazy val contrib = nb.select(col("n").as("u"), col("w"))
      .join(adj, Seq("w"))
      .select(col("u"), col("w"),
        when(col("d") <= maxCenterDegree, expr("filter(ns, x -> x > u)"))
          .otherwise(slice(col("ns"), 1, 0)).as("vs"))
    // path gate: m is a count over the already-pinned edge blocks (cheap);
    // at or below the broadcast gate the wedge stream never shuffles
    val useBroadcast = e.count() <= broadcastMaxEdges
    val grouped =
      if (useBroadcast) topPairsBroadcast(adj, k, maxCenterDegree)
      else topPairsPerSource(contrib, e, k, maxCounterEntries)
    // pinned: `attached` below feeds BOTH the output projection and the
    // aa aggregate, so an unpinned top would re-run the whole wedge
    // count per consumer (measured: 2× the counting stage, +1.5 s wall)
    val top = grouped
      .orderBy(col("cn").desc, col("u"), col("v")).limit(k)
      .pinned()
    // k-row frame from here on: attach both neighbor arrays (broadcast the
    // k pairs), intersect for the exact common-neighbor set, then the
    // Adamic–Adar sum over its (≤ max-degree) members and the Jaccard from
    // the array sizes. NOTE: cn counts only sub-cap centers, so
    // cn == size(ws) only when no common neighbor exceeds the degree cap —
    // never substitute size(ws) for cn (the aa stage below re-applies the
    // cap for the same reason).
    val attached = broadcast(top)
      .join(adj.select(col("w").as("u"), col("ns").as("nu"),
        col("d").cast("long").as("du")), Seq("u"))
      .join(adj.select(col("w").as("v"), col("ns").as("nv"),
        col("d").cast("long").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("cn"), col("du"), col("dv"),
        array_intersect(col("nu"), col("nv")).as("ws"))
    // the cap applies here too: a super-hub center contributes to neither
    // the wedge count nor the Adamic–Adar sum (cn and aa stay consistent)
    val aa = attached.select(col("u"), col("v"), explode(col("ws")).as("w"))
      .join(adj.select(col("w"), col("d")), Seq("w"))
      .filter(col("d") <= maxCenterDegree)
      .groupBy("u", "v")
      .agg(sum(lit(1.0) / log(col("d").cast("double"))).as("aa"))
    attached.join(aa, Seq("u", "v"))
      .select(col("u"), col("v"), col("cn"),
        (col("cn").cast("double") /
          (col("du") + col("dv") - col("cn")).cast("double")).as("jaccard"),
        col("aa"))
      .orderBy(col("cn").desc, col("u"), col("v"))
  }

  /** HITS iterations to run — kept small enough that the oracle's
    * chained-CTE replay (2 CTEs per round) stays readable. */
  val HitsIters = 8

  /** Early-exit tolerance for [[graft.queries.Analytics.graphHits]]: the
    * customer→part HITS recursion contracts its hub L1 delta ~0.1×/round
    * (measured at all three SFs), so 2e-5 sits inside the round-4/round-5
    * gap (3.1e-5 / 6.0e-6 at the tightest SF) and the run exits after 5 of
    * the 8 budget rounds. Oracle parity is the same budget-replay
    * pass-through as [[PrDirectedTol]]; the query's margin guard makes a
    * near-tol delta loud. */
  val HitsTol = 2e-5

  /** First tol-checked HITS round — see [[PrDirectedTolFrom]]. */
  val HitsTolFrom = 4

  /** HITS hubs-and-authorities (Kleinberg 1999) over a DIRECTED edge list
    * (`src`, `dst`), L1-normalized each half-step:
    *
    *   auth_k(v) = Σ_{u→v} hub_{k−1}(u)   , then ÷ Σ_v auth_k(v)
    *   hub_k(u)  = Σ_{u→v} auth_k(v)      , then ÷ Σ_u hub_k(u)
    *
    * L1 (not L2) normalization keeps every quantity a plain sum-and-divide
    * — exactly replayable by the oracle's chained CTEs with only
    * sum-order-level float drift, absorbed by the 6-decimal rounding.
    * Nodes with no in-edge carry authority 0 (and hub 0 symmetrically);
    * the full src ∪ dst node set is preserved via the same zero-row union
    * trick as [[pageRank]], so no node drops out of the output.
    *
    * Scale shape: identical cost envelope to a PageRank round, twice —
    * each half-step is ONE keyed join (scores broadcast at or below
    * [[RankBroadcastMaxNodes]] nodes, co-partitioned with the checkpointed
    * edge list above) + ONE grouped sum; the L1 scalar is one eager
    * 1-row aggregate per half-step over the pinned sums (see the note in
    * [[hitsWithRounds]]). Scores are localCheckpoint'ed per round to
    * truncate lineage. */
  def hits(edges: DataFrame, iters: Int = HitsIters): DataFrame =
    hitsWithRounds(edges, iters, None)._1

  /** [[hits]] plus rounds run and per-round hub L1 deltas (tol runs only)
    * — the stop test is on the hub side of each full round, matching the
    * oracle replay's per-round pass-through condition. */
  private[graft] def hitsWithRounds(edges: DataFrame, iters: Int = HitsIters,
      tol: Option[Double] = None, tolFrom: Int = 1): (DataFrame, Int, List[Double]) = {
    // raw edges pinned once; node set + node/edge counts from ONE grouped
    // pass + one 1-row action (the r13 shape paid an unconditional
    // repartition+pin of the edges plus a separate distinct + count)
    val e0 = edges.pinned()
    val nodeTab = e0.select(col("src").as("node"), lit(1L).as("o"))
      .unionAll(e0.select(col("dst").as("node"), lit(0L).as("o")))
      .groupBy("node").agg(sum(col("o")).as("outdeg")).pinned()
    val cnts = nodeTab.agg(count(lit(1)), sum(col("outdeg"))).head()
    val n = cnts.getLong(0)
    val m = if (cnts.isNullAt(1)) 0L else cnts.getLong(1)
    val nodes = nodeTab.select("node")
    // the half-steps join alternately ON src (auth step) and ON dst (hub
    // step): on the broadcast path one coalesced raw copy serves both; on
    // the co-partitioned path each key gets its own pinned layout so
    // NEITHER half-step re-shuffles the edge list per round (the r13
    // shape was src-partitioned only — every hub half-step above the
    // broadcast gate would have paid an edge-sized exchange)
    val (eSrc, eDst) =
      if (n <= RankBroadcastMaxNodes) { val er = roundSized(e0, m); (er, er) }
      else (e0.repartition(col("src")).pinned(),
        e0.repartition(col("dst")).pinned())
    val zeros = nodes.select(col("node"), lit(0.0).as("x"))
    // L1 normalization: ONE eager 1-row aggregate over the pinned raw sums
    // per half-step, then a NARROW literal-division view. The r14 shape
    // kept the scalar in-plan (crossJoin(broadcast(1-row agg))) to avoid a
    // per-round driver action — but the lazy view is consumed 2-3× per
    // half-step (next half's score broadcast, both sides of the tol check,
    // the final hub⋈auth join), and EVERY consumer re-ran the aggregate
    // and built a fresh broadcast as nested sub-jobs (~3 extra jobs per
    // consumption; the r15 job timeline showed graph_hits at ~260 jobs,
    // driver gaps 3.0 s of 9.7 s wall). The eager scalar is the same class of
    // 1-row action as the tol check, runs once per half-step over the
    // 2-block checkpoint, and makes the normalized frame free to consume
    // any number of times. Same sum, same division, bit-identical values
    // (OpsSpec replays the recurrence to 1e-12 and the early-exit run
    // bit-compares against the fixed run).
    def l1(df: DataFrame, c: String): DataFrame = {
      val row = df.agg(sum(col(c))).head()
      val s: java.lang.Double =
        if (row.isNullAt(0)) null else java.lang.Double.valueOf(row.getDouble(0))
      df.select(col("node"), (col(c) / lit(s)).as(c))
    }
    val rounds = new Checkpoint.Rounds(edges.sparkSession)
    def half(scores: DataFrame, inCol: String, joinKey: String,
        outKey: String, outCol: String): DataFrame = {
      val e = if (joinKey == "src") eSrc else eDst
      val sc =
        if (n <= RankBroadcastMaxNodes) broadcast(scores) else scores
      val raw = rounds.pin(e.join(sc, e(joinKey) === sc("node"))
        .select(col(outKey).as("node"), col(inCol).as("x"))
        .unionAll(zeros)
        .groupBy("node").agg(sum(col("x")).as(outCol)))
      l1(raw, outCol)
    }
    var hub = nodes.select(col("node"), lit(1.0 / n).as("hub"))
    var auth: DataFrame = null
    var round = 0
    var converged = false
    var deltas = List.empty[Double]
    // node-table-sized loop shuffles at the edge-count-derived partition
    // count — see [[EdgeRowsPerShufflePartition]]
    val sealedOut = withRoundShuffle(edges.sparkSession, m) {
      while (round < iters && !converged) {
        auth = half(hub, "hub", "src", "dst", "auth")
        val nextHub = half(auth, "auth", "dst", "src", "hub")
        if (round + 1 >= tolFrom) tol.foreach { t =>
          val row = nextHub
            .join(hub.select(col("node"), col("hub").as("_prev")), "node")
            .agg(sum(abs(col("hub") - col("_prev")))).head()
          val d = if (row.isNullAt(0)) Double.PositiveInfinity else row.getDouble(0)
          deltas ::= d
          converged = d <= t
        }
        hub = nextHub
        round += 1
      }
      val out = nodes
        .join(hub, Seq("node"), "left")
        .join(auth, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("hub"), lit(0.0)).as("hub"),
          coalesce(col("auth"), lit(0.0)).as("auth"))
      rounds.seal(out)
    }
    (sealedOut, round, deltas.reverse)
  }

  /** The customer→part endorsement graph: a genuinely DIRECTED edge per
    * distinct (customer, part) purchase pair — parts never link out, so
    * every part node is dangling and the graph exercises the full
    * generalized-PageRank surface (dst-only nodes + dangling mass). Node
    * ids are LONG-PACKED (customer k → 2k, part k → 2k+1) — see
    * [[supplierPartEdgesPacked]] for the rationale and the float-drift
    * argument. Decode to the public `c<k>`/`p<k>` ids with
    * `unpackNode(col, "c", "p")`. */
  def customerPartEdgesPacked(s: SparkSession, dir: String): DataFrame = {
    val o = graft.source.Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    // session-width fan-out of the 2-long projection before the broadcast
    // probe + distinct — see [[supplierPartEdgesPacked]]
    val p = s.conf.get("spark.sql.shuffle.partitions").toInt
    graft.source.Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .repartition(p)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(shiftleft(col("o_custkey").cast("long"), 1).as("src"),
        (shiftleft(col("l_partkey").cast("long"), 1) + 1L).as("dst"))
      .distinct()
  }

  /** The supplier↔part co-occurrence graph: one undirected (symmetrized)
    * edge per distinct supplier–part pair observed in lineitem, with
    * LONG-PACKED node ids: supplier k → 2k, part k → 2k+1 (bijective — the
    * key domains are disjoint by the low bit). The iterative rounds then
    * hash/compare/shuffle 8-byte longs instead of 5–8-byte strings (guide §2.3 narrower types: the round
    * job's broadcast probe + partial agg is the per-round cost on the
    * broadcast path, and long keys roughly halve its per-row work), and
    * the query decodes back to the public `s<k>`/`p<k>` ids at the
    * boundary with [[unpackNode]]. Rank VALUES are the same sums in a
    * (possibly) different add order — the same float-drift class as the
    * cross-engine oracle replay, absorbed by the 6-decimal output
    * rounding (SqlParitySpec compares the packed run against the
    * string-keyed SQL loop value-exact). */
  def supplierPartEdgesPacked(s: SparkSession, dir: String): DataFrame = {
    // fan the narrow 2-long projection to the session shuffle width before
    // the distinct: the scan is a few parquet splits at bench SF, and the
    // partial distinct would otherwise run serialized at the split count
    // (same pattern and rationale as [[copurchaseLines]]); at cluster
    // scale the scan has plenty of splits and the exchange is a no-op-
    // sized narrow shuffle either way
    val p = s.conf.get("spark.sql.shuffle.partitions").toInt
    val pairs = graft.source.Tables.lineitem(s, dir)
      .select(shiftleft(col("l_suppkey").cast("long"), 1).as("a"),
        (shiftleft(col("l_partkey").cast("long"), 1) + 1L).as("b"))
      .repartition(p)
      .distinct()
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
  }

  /** Decode a packed node id (even → `<evenPrefix><id/2>`, odd →
    * `<oddPrefix><(id-1)/2>`) back to its public prefix-string form. */
  def unpackNode(id: Column, evenPrefix: String, oddPrefix: String): Column =
    when(id.bitwiseAND(1L) === 0L,
        concat(lit(evenPrefix), shiftright(id, 1).cast("string")))
      .otherwise(concat(lit(oddPrefix), shiftright(id, 1).cast("string")))

  /** Part co-purchase edges: undirected distinct (a < b) part-key pairs
    * co-occurring in at least one order. The per-order self-join group is
    * lines-per-order sized (≤7 in TPC-H), so the pair generation is a
    * bounded keyed expansion, never quadratic in the table. */
  def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val li = copurchaseLines(s, dir)
    li.select(col("ok"), col("pk").as("a"))
      .join(li.select(col("ok"), col("pk").as("b")), Seq("ok"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** (orderkey, partkey) lines fanned out to the session shuffle width:
    * the co-purchase self-join broadcasts one side, so its probe + pair
    * explosion + partial-distinct all run at the SCAN's split count — 3
    * tasks at sf0.1 (the scan is a few parquet row groups), serializing
    * the most expensive map stage of all four co-purchase consumers. One
    * cheap round-robin exchange of the narrow 2-column lines (explicit
    * numPartitions so AQE doesn't coalesce it back down by its small
    * byte size) lets the quadratic pair work use the whole session. */
  private def copurchaseLines(s: SparkSession, dir: String): DataFrame = {
    val p = s.conf.get("spark.sql.shuffle.partitions").toInt
    graft.source.Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .repartition(p)
  }

  /** Co-purchase edges with a minimum-support gate: only part pairs that
    * co-occur in at least `minSupport` DISTINCT orders. Support filtering
    * is how a real association graph sheds the one-off noise pairs (and
    * keeps the edge count near-constant in SF here — random pairs rarely
    * repeat); the pair aggregate carries map-side partials on the (a, b)
    * key, the same cost class as [[coPurchaseEdges]]'s distinct. */
  def coPurchaseEdgesSupported(s: SparkSession, dir: String,
      minSupport: Int = 2): DataFrame = {
    val li = copurchaseLines(s, dir)
    li.select(col("ok"), col("pk").as("a"))
      .join(li.select(col("ok"), col("pk").as("b")), Seq("ok"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(countDistinct(col("ok")).as("support"))
      .filter(col("support") >= minSupport)
      .select("a", "b")
  }

  /** Degree-oriented triangle counting (the compact-forward / node-
    * iterator++ algorithm; Schank & Wagner 2005): per-node triangle
    * participation counts over an undirected (a < b) edge list.
    *
    * Every edge is oriented from its lower to its higher endpoint in the
    * TOTAL order (degree, node) — so wedges are only generated at each
    * triangle's minimum-rank vertex, each triangle is found exactly once,
    * and per-node wedge fan-out is bounded by the oriented out-degree
    * (O(√m) on any graph of arboricity O(√m)), not by the raw degree.
    * That orientation is precisely what makes this survive hub nodes at
    * 100 TB where an id-ordered wedge join explodes on every high-degree
    * vertex. Comparing wedge endpoints by raw id against a degree-ordered
    * edge set silently drops about half the triangles (validated in the
    * spec).
    *
    * Each triangle u→v, u→w, v→w is found EXACTLY once, at its (u→v)
    * edge, as w ∈ out(u) ∩ out(v): out(u) ∋ w by the wedge, out(v) ∋ w by
    * the closing edge, and neither of the other two edges sees it (out(w)
    * contains neither peer; out(u)∩out(w) would need w→v). Intersecting
    * ORIENTED out-lists is what makes the adjacency-array form scale-safe:
    * the arrays are bounded by the oriented out-degree — O(√m), never the
    * raw hub degree — so a per-node row holds at most √m longs, and the
    * Θ(Σ min-degree) intersection work runs as codegen'd sorted-array ops
    * instead of materializing the wedge set through an exchange (the
    * wedge-join form shuffles ~41M rows at sf0.1; this shuffles the edge
    * list and the adjacency table only).
    *
    * Scale shape: degree aggregate, two keyed degree-attach joins, ONE
    * adjacency groupBy, two keyed joins to attach out(u)/out(v) (AQE
    * broadcasts the adjacency side on small graphs; co-partitioned
    * shuffle above), then narrow intersect + explode + final count
    * aggregate. No broadcast of anything data-sized, no driver state. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // materialize once: the edge list feeds the degree aggregate AND both
    // degree-attach joins, and the oriented list feeds the adjacency
    // aggregate plus the edge-iterator scan — without the checkpoints the
    // whole upstream (e.g. the co-purchase distinct self-join) re-executes
    // per consumer. O(m) rows of 2 longs, executor-local blocks.
    val e = edges.pinned()
    val deg = e.select(col("a").as("n"))
      .unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = withDeg.select(
      when(fwd, col("a")).otherwise(col("b")).as("u"),
      when(fwd, col("b")).otherwise(col("a")).as("v"))
      .pinned()
    // materialized once (ObjectHashAggregate over collect_list is the
    // plan's most expensive stage — without the checkpoint it runs twice,
    // once per attach join); broadcast when the packed adjacency fits the
    // executor broadcast budget (~8 longs/edge → ≤64 MB), else the joins
    // degrade to co-partitioned shuffles — same pattern as
    // RankBroadcastMaxNodes / Dedup.HotKeyBroadcastMax.
    val adjRaw = o.groupBy("u")
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
      .pinned()
    val bcast = e.count() <= AdjBroadcastMaxEdges
    val adj = if (bcast) broadcast(adjRaw) else adjRaw
    // Broadcast path: both attach joins ship the adjacency to the probe
    // side, so the intersect/explode stage — the plan's dominant CPU (r15
    // job timeline: 16.8 s task time in 10 tasks of 3.85 s wall at 32 cores) —
    // runs at the pinned blocks' count, which AQE sized by BYTES of the
    // 2-long rows, not by the Θ(Σ min-degree) work per row. One cheap
    // round-robin exchange of the narrow edge list fans it to the session
    // width (explicit numPartitions so AQE can't coalesce it back down).
    // Above the gate the joins are co-partitioned shuffles already at the
    // session width — no fan-out needed (and none wanted: it would break
    // co-partitioning).
    val oProbe =
      if (bcast) o.repartition(
        o.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      else o
    val tris = oProbe
      .join(adj.select(col("u"), col("nbrs").as("nu")), Seq("u"))
      .join(adj.select(col("u").as("v"), col("nbrs").as("nv")), Seq("v"))
      .select(col("u"), col("v"),
        array_intersect(col("nu"), col("nv")).as("ws"))
      .filter(size(col("ws")) > 0)
    tris
      .select(col("u"), col("v"), explode(col("ws")).as("w"))
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Neighbor lists longer than this are truncated before the h-index
    * fold. Lossless: a node's h-index is bounded by its CURRENT value
    * c(v) (monotonically non-increasing from deg(v)), and the fold only
    * inspects sorted-desc positions i ≤ h, so positions beyond
    * min(c(v), cap) can never contribute once c(v) ≤ cap. The cap only
    * bounds the FIRST rounds of a hub node's list (a 10M-degree hub's
    * coreness estimate spends a few extra rounds descending to ≤cap, the
    * per-row memory never exceeds ~512 KB of longs). */
  val CorenessHubCap = 65536

  /** Exact k-core decomposition — the coreness c(v) of every node — via
    * the distributed h-index iteration (Montresor, De Pellegrini &
    * Miorandi 2013; Lü et al. 2016): initialize c(v) = deg(v); each round
    * set c(v) = H(c(u) : u ∈ N(v)), the largest h such that at least h
    * neighbors currently have value ≥ h. The sequence is monotonically
    * non-increasing, reaches the true coreness at fixpoint, and every
    * post-fixpoint round is an EXACT no-op — which is what lets the
    * DuckDB oracle replay a fixed round budget while this side exits
    * early: bit-identical integer output either way.
    *
    * This is the formulation that scales where peeling cannot: sequential
    * peeling (remove min-degree nodes, repeat) needs O(peel-depth)
    * serialized rounds with a global frontier, while the h-index round is
    * ONE co-partitioned join + ONE grouped fold, the same per-round
    * envelope as [[pageRank]], and converges in O(graph diameter)-ish
    * rounds. Per-node state is one long; the only per-row growth is the
    * sorted neighbor-value array inside the aggregate, bounded by
    * [[CorenessHubCap]] (see its losslessness note).
    *
    * Scale shape: edges symmetrized and hash-partitioned on `dst` ONCE
    * (checkpointed, reused every round); the value table arrives
    * partitioned on `id` from the previous round's groupBy, so the
    * per-round join is exchange-free above the broadcast gate and a
    * broadcast below it ([[RankBroadcastMaxNodes]]). Early exit costs one
    * O(1) driver scalar per round (changed-row count), the same
    * discipline as pageRank's L1-delta.
    *
    * Input: undirected edge list as (`a`, `b`) pairs, a < b, distinct.
    * Returns ((id, c) with c = exact coreness, rounds-executed). */
  def coreness(pairs: DataFrame, maxIters: Int = 64): (DataFrame, Int) = {
    // raw symmetrized edges pinned once; node and edge counts from one
    // 1-row action over the initial degree table. The dst-repartition is
    // scale-gated like [[pageRankWithRounds]]: skipped on the broadcast
    // path (the value table ships to the edges), applied once above it so
    // every round's join is co-partitioned.
    val e0 = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
      .pinned()
    var c = e0.groupBy(col("src").as("id")).agg(count(lit(1)).as("c"))
      .pinned()
    val cnts = c.agg(count(lit(1)), sum(col("c"))).head()
    val nNodes = cnts.getLong(0)
    val m = if (cnts.isNullAt(1)) 0L else cnts.getLong(1)
    val e =
      if (nNodes <= RankBroadcastMaxNodes) roundSized(e0, m)
      else e0.repartition(col("dst")).pinned()
    var round = 0
    var converged = false
    val rounds = new Checkpoint.Rounds(pairs.sparkSession)
    // node-table-sized loop shuffles at the edge-count-derived partition
    // count — see [[EdgeRowsPerShufflePartition]]
    val sealedC = withRoundShuffle(pairs.sparkSession, m) {
      while (round < maxIters && !converged) {
        val next = rounds.pin(hIndexRound(e, c, nNodes))
        // both sides partitioned on id (groupBy outputs) — no exchange
        val changed = next
          .join(c.select(col("id"), col("c").as("_prev")), "id")
          .filter(col("c") =!= col("_prev")).count()
        converged = changed == 0L
        c = next
        round += 1
      }
      rounds.seal(c)
    }
    (sealedC, round)
  }

  /** One h-index round. Exposed pre-checkpoint so PlanSpec can pin the
    * physical shape: the value table broadcasts below
    * [[RankBroadcastMaxNodes]] and co-partitions above it; the fold is a
    * single grouped aggregate (collect neighbor values, sort desc,
    * h = max_i min(value_i, i+1) — an O(deg) codegen'd array transform,
    * no second shuffle). */
  private[graft] def hIndexRound(e: DataFrame, c: DataFrame,
      nNodes: Long): DataFrame = {
    val cc = if (nNodes <= RankBroadcastMaxNodes) broadcast(c) else c
    e.join(cc, e("dst") === cc("id"))
      .groupBy(e("src").as("id"))
      .agg(array_max(transform(
        slice(reverse(sort_array(collect_list(col("c")))),
          1, CorenessHubCap),
        (x, i) => least(x, (i + lit(1)).cast("long")))).as("c"))
  }
}
