package graft.oracle

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Engine-executable SQL for the iterative query families.
  *
  * Ten registered queries compute an iterate-to-convergence fixpoint: the
  * connected-component labelers (`dedup_clusters`, `dedup_canonical`,
  * `curate_docs`, `sim_semantic_dedup`, `graph_components`,
  * `graph_modularity`) and the convergence-loop centralities
  * (`graph_pagerank_directed`, `graph_ppr`, `graph_hits`, `graph_kcore`).
  * Their DuckDB oracles replay them as recursive or deeply-unrolled CTEs;
  * Spark 4.1's recursion support cannot express data-dependent
  * convergence (no UNION-distinct inside UnionLoop, no per-round driver
  * stop test), so [[SparkSql.statement]] cannot serve them as ONE
  * statement — the historic SQL-parity gap (VERDICT r13 missing #2).
  *
  * This object closes the gap the way the engine itself runs the
  * computation: a thin driver loop over `spark.sql` statements. EVERY data
  * transformation is a SQL statement executed by the engine; the Scala
  * harness only (a) registers each round's result as a temp view after a
  * `localCheckpoint` materialization barrier (exactly the barrier the
  * DataFrame implementation needs too — see
  * [[graft.text.Dedup.connectedComponents]]), (b) reads the 1-row
  * convergence digest — the same label-sum / L1-delta / changed-count
  * stop test the engine runs, with the engine-side
  * `requireCleanExit` 10% tol margins guaranteeing both replicas exit on
  * the same round despite sum-order float drift — and (c) injects scalar
  * setup constants (node counts, 1/n seeds) as exact
  * `java.lang.Double.toString` round-trip literals, the same IEEE values
  * Catalyst constant-folds in the DataFrame plan. SqlParitySpec proves
  * each program's rows equal the registered DataFrame plan's rows
  * value-for-value on every test run.
  *
  * The pair-generation statements are reused from the CERTIFIED
  * [[SparkSql.covered]] surface where one exists (`dedup_minhash_pairs`,
  * `sim_neardup`) — the iterated program starts from SQL that is itself
  * value-proven.
  */
object SqlIterate {

  /** One iterated program: `pairsSql` produces the undirected pair list
    * (endpoint columns named by `a`/`b`), the generic CC loop labels every
    * node with its component minimum, and `finishSql` (which may reference
    * the final labeling as view `_it_cc(id, label)`) produces the query's
    * registered output. */
  private case class Program(pairsSql: () => String, a: String, b: String,
      finishSql: () => String)

  private def covered(name: String): String =
    SparkSql.statement(name).getOrElse(
      throw new IllegalStateException(
        s"SqlIterate expects '$name' on the certified covered surface"))

  /** Support-≥2 co-purchase pair SQL (the oracle's `p` CTE,
    * OracleSql.graphComponents — plain ANSI joins, runs on Spark as-is). */
  private val coPurchasePairs: String =
    """SELECT a.l_partkey AS a, b.l_partkey AS b
      |FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY 1, 2
      |HAVING COUNT(DISTINCT a.l_orderkey) >= 2""".stripMargin

  private def d(sql: String): String = SparkSql.dialect(sql)

  private val programs: Map[String, Program] = Map(
    "dedup_clusters" -> Program(
      () => covered("dedup_minhash_pairs"), "doc_a", "doc_b",
      () => "SELECT id AS doc_id, label AS cluster_id FROM _it_cc ORDER BY doc_id"),
    "dedup_canonical" -> Program(
      () => covered("dedup_minhash_pairs"), "doc_a", "doc_b",
      () => d(s"""WITH clus AS (
         |  SELECT id AS doc_id, label AS cluster_id FROM _it_cc
         |), ${TextSimSql.statsCtesBody}, rk AS (
         |  SELECT clus.cluster_id, clus.doc_id, (${TextSimSql.qualityExpr}) AS q,
         |         ROW_NUMBER() OVER (PARTITION BY clus.cluster_id
         |           ORDER BY (${TextSimSql.qualityExpr}) DESC, clus.doc_id) AS rnk,
         |         COUNT(*) OVER (PARTITION BY clus.cluster_id) AS n_members
         |  FROM clus JOIN s2 ON s2.doc_id = clus.doc_id
         |)
         |SELECT cluster_id, doc_id AS keep_id,
         |       CAST(n_members AS BIGINT) AS n_members,
         |       ${TextSimSql.r("q")} AS keep_quality
         |FROM rk WHERE rnk = 1 ORDER BY cluster_id""".stripMargin)),
    "curate_docs" -> Program(
      () => covered("dedup_minhash_pairs"), "doc_a", "doc_b",
      () => d(s"""WITH clus AS (
         |  SELECT id AS doc_id, label AS cluster_id FROM _it_cc
         |), ${TextSimSql.statsCtesBody}
         |SELECT s2.doc_id, ${TextSimSql.r(TextSimSql.qualityExpr)} AS quality_score
         |FROM s2 LEFT JOIN clus ON s2.doc_id = clus.doc_id
         |WHERE (${TextSimSql.qualityExpr}) >= 0.55
         |  AND (clus.cluster_id IS NULL OR clus.cluster_id = s2.doc_id)
         |ORDER BY s2.doc_id""".stripMargin)),
    "sim_semantic_dedup" -> Program(
      () => covered("sim_neardup"), "vec_a", "vec_b",
      () => """SELECT v.vec_id,
        |       COALESCE(c.label, v.vec_id) AS cluster_id,
        |       CAST(CASE WHEN c.label IS NULL OR c.label = v.vec_id
        |            THEN 1 ELSE 0 END AS INT) AS kept
        |FROM embeddings v LEFT JOIN _it_cc c ON c.id = v.vec_id
        |ORDER BY vec_id""".stripMargin),
    "graph_components" -> Program(
      () => coPurchasePairs, "a", "b",
      () => """SELECT c.id AS node, c.label AS component_id, sz.component_size
        |FROM _it_cc c JOIN (
        |  SELECT label, COUNT(*) AS component_size FROM _it_cc GROUP BY label
        |) sz ON sz.label = c.label
        |ORDER BY node""".stripMargin),
    "graph_modularity" -> Program(
      () => coPurchasePairs, "a", "b",
      () => s"""WITH lab AS (
        |  SELECT id, label AS component_id FROM _it_cc
        |), e AS (
        |  SELECT a AS src, b AS dst FROM _it_pairs
        |  UNION ALL SELECT b AS src, a AS dst FROM _it_pairs
        |), deg AS (
        |  SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1
        |), nc AS (
        |  SELECT lab.component_id, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |         CAST(SUM(deg.d) AS BIGINT) AS degree_sum
        |  FROM lab JOIN deg USING (id) GROUP BY 1
        |), ie AS (
        |  SELECT la.component_id, CAST(COUNT(*) AS BIGINT) AS intra_edges
        |  FROM _it_pairs p
        |  JOIN lab la ON la.id = p.a
        |  JOIN lab lb ON lb.id = p.b
        |  WHERE la.component_id = lb.component_id
        |  GROUP BY 1
        |), mm AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS m FROM _it_pairs
        |), qq AS (
        |  SELECT nc.component_id, nc.n_nodes,
        |         COALESCE(ie.intra_edges, 0) AS intra_edges, nc.degree_sum,
        |         CAST(COALESCE(ie.intra_edges, 0) AS DOUBLE) / mm.m
        |           - (CAST(nc.degree_sum AS DOUBLE) / (2.0 * mm.m))
        |             * (CAST(nc.degree_sum AS DOUBLE) / (2.0 * mm.m)) AS q
        |  FROM nc LEFT JOIN ie USING (component_id) CROSS JOIN mm
        |)
        |SELECT component_id, n_nodes, intra_edges, degree_sum,
        |       ${TextSimSql.r("q")} AS q_contrib,
        |       ${TextSimSql.r("SUM(q) OVER ()")} AS q_total
        |FROM qq ORDER BY component_id""".stripMargin))

  /** The queries this object serves. */
  def names: Seq[String] =
    (programs.keys ++ roundRunners.keys).toSeq.sorted

  /** Run the iterated-SQL program for `name` against the session's
    * registered base views (`lineitem`, `documents`, `embeddings`, …).
    * Same convergence discipline as the engine: min-label propagation to
    * the label-sum fixpoint (CC family) or the query's own L1-delta /
    * changed-count stop test (centrality family), each round materialized
    * behind a `localCheckpoint` barrier before the next round's statement
    * reads it. */
  def run(spark: SparkSession, name: String, maxIters: Int = 25): DataFrame =
    roundRunners.get(name) match {
      case Some(runner) => runner(spark)
      case None => runCc(spark, name, maxIters)
    }

  /** The CC-family loop: min-label propagation to the label-sum fixpoint. */
  private def runCc(spark: SparkSession, name: String,
      maxIters: Int): DataFrame = {
    val p = programs.getOrElse(name,
      throw new IllegalArgumentException(
        s"SqlIterate serves ${names.mkString(", ")} — not '$name'"))
    spark.sql(p.pairsSql()).localCheckpoint()
      .createOrReplaceTempView("_it_pairs")
    spark.sql(
      s"""SELECT ${p.a} AS src, ${p.b} AS dst FROM _it_pairs
         |UNION ALL SELECT ${p.b} AS src, ${p.a} AS dst FROM _it_pairs"""
        .stripMargin)
      .localCheckpoint().createOrReplaceTempView("_it_edges")
    spark.sql("SELECT DISTINCT src AS id, src AS label FROM _it_edges")
      .localCheckpoint().createOrReplaceTempView("_it_cc")
    def labelSum(): java.math.BigDecimal = {
      val row = spark.sql(
        "SELECT SUM(CAST(label AS DECIMAL(38,0))) FROM _it_cc").head()
      if (row.isNullAt(0)) java.math.BigDecimal.ZERO else row.getDecimal(0)
    }
    var prev = labelSum()
    var converged = false
    var iters = 0
    while (!converged && iters < maxIters) {
      spark.sql(
        """SELECT id, MIN(label) AS label FROM (
          |  SELECT id, label FROM _it_cc
          |  UNION ALL
          |  SELECT e.src AS id, c.label AS label
          |  FROM _it_edges e JOIN _it_cc c ON e.dst = c.id
          |) GROUP BY id""".stripMargin)
        .localCheckpoint().createOrReplaceTempView("_it_cc")
      val s = labelSum()
      converged = s.compareTo(prev) == 0
      prev = s
      iters += 1
    }
    require(converged,
      s"SqlIterate($name): labeling not converged after $maxIters rounds")
    spark.sql(p.finishSql())
  }

  // ---------------------------------------------------------------------
  // Convergence-loop centralities (graph_pagerank_directed / graph_ppr /
  // graph_hits / graph_kcore). Each runner mirrors its engine loop
  // statement-for-statement: same round expression structure and literal
  // association order (the float-parity discipline the DuckDB oracle
  // replay already proves survivable), same stop test, same round budget.
  // ---------------------------------------------------------------------

  /** Exact round-trip double literal — the same IEEE value the DataFrame
    * plan constant-folds (`java.lang.Double.toString` is read back to the
    * identical bits by both Spark's parser and the JVM). */
  private def dlit(x: Double): String = {
    val s = java.lang.Double.toString(x)
    // 1.0E-5-style exponents parse as DOUBLE in Spark SQL; plain forms too
    s"CAST($s AS DOUBLE)"
  }

  /** The directed customer→part endorsement edge list as plain ANSI SQL,
    * with the string ids that
    * [[graft.analytics.Graph.customerPartEdgesPacked]] plus
    * [[graft.analytics.Graph.unpackNode]] produce. */
  private val customerPartEdgesSql: String =
    """SELECT DISTINCT concat('c', CAST(o.o_custkey AS STRING)) AS src,
      |       concat('p', CAST(l.l_partkey AS STRING)) AS dst
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"""
      .stripMargin

  private def view(spark: SparkSession, name: String, sql: String): Unit =
    spark.sql(sql).localCheckpoint().createOrReplaceTempView(name)

  private def scalar(spark: SparkSession, sql: String): Double = {
    val row = spark.sql(sql).head()
    if (row.isNullAt(0)) 0.0
    else row.get(0) match {
      case d: java.lang.Double => d
      case l: java.lang.Long => l.toDouble
      case x => x.toString.toDouble
    }
  }

  private val roundRunners: Map[String, SparkSession => DataFrame] = Map(
    "graph_pagerank_directed" -> (prDirected(_)),
    "graph_ppr" -> (ppr(_)),
    "graph_hits" -> (hits(_)),
    "graph_kcore" -> (kcore(_)))

  /** Generalized damped PageRank with dangling-mass redistribution and
    * the L1-delta early exit — the statement-level twin of
    * [[graft.analytics.Graph.pageRankWithRounds]] on
    * [[customerPartEdgesSql]] (tol [[graft.analytics.Graph.PrDirectedTol]]
    * checked from round [[graft.analytics.Graph.PrDirectedTolFrom]]). */
  private def prDirected(spark: SparkSession): DataFrame = {
    import graft.analytics.Graph.{PrDamping, PrDirectedTol, PrDirectedTolFrom, PrIters}
    view(spark, "_it_pr_edges", customerPartEdgesSql)
    view(spark, "_it_pr_nodetab",
      """SELECT node, MAX(o) AS has_out FROM (
        |  SELECT src AS node, 1 AS o FROM _it_pr_edges
        |  UNION ALL SELECT dst AS node, 0 AS o FROM _it_pr_edges
        |) GROUP BY node""".stripMargin)
    val cnt = spark.sql(
      """SELECT COUNT(*) AS n, SUM(CAST(1 - has_out AS BIGINT)) AS nd
        |FROM _it_pr_nodetab""".stripMargin).head()
    val n = cnt.getLong(0)
    val hasDangling = !cnt.isNullAt(1) && cnt.getLong(1) > 0L
    view(spark, "_it_pr_e",
      """SELECT e.src, e.dst, d.outdeg
        |FROM _it_pr_edges e JOIN (
        |  SELECT src, COUNT(*) AS outdeg FROM _it_pr_edges GROUP BY src
        |) d ON e.src = d.src""".stripMargin)
    view(spark, "_it_pr_rank",
      s"SELECT node, ${dlit(1.0 / n)} AS rank FROM _it_pr_nodetab")
    // teleport = lit(1-d)/lit(n) — Catalyst folds the division once; fold
    // it here with the same IEEE ops and inject the result
    val tele = dlit((1.0 - PrDamping) / n.toDouble)
    val dmSql = if (hasDangling)
      s"""SELECT COALESCE(SUM(r.rank), CAST(0.0 AS DOUBLE)) / ${dlit(n.toDouble)} AS _dm
         |FROM _it_pr_rank r JOIN _it_pr_nodetab t
         |  ON r.node = t.node AND t.has_out = 0""".stripMargin
    else "SELECT CAST(0.0 AS DOUBLE) AS _dm"
    var round = 0
    var converged = false
    while (round < PrIters && !converged) {
      view(spark, "_it_pr_next",
        s"""WITH agg AS (
           |  SELECT e.dst AS node, SUM(r.rank / e.outdeg) AS _s
           |  FROM _it_pr_e e JOIN _it_pr_rank r ON e.src = r.node
           |  GROUP BY e.dst
           |), dm AS ($dmSql)
           |SELECT t.node,
           |       ($tele + ${dlit(PrDamping)} *
           |         (COALESCE(a._s, CAST(0.0 AS DOUBLE)) + dm._dm)) AS rank
           |FROM _it_pr_nodetab t
           |LEFT JOIN agg a ON t.node = a.node CROSS JOIN dm""".stripMargin)
      if (round + 1 >= PrDirectedTolFrom) {
        val d = scalar(spark,
          """SELECT SUM(ABS(n.rank - p.rank))
            |FROM _it_pr_next n JOIN _it_pr_rank p ON n.node = p.node"""
            .stripMargin)
        converged = d <= PrDirectedTol
      }
      // the next view is already checkpoint-backed; re-point rank at it
      spark.table("_it_pr_next").createOrReplaceTempView("_it_pr_rank")
      round += 1
    }
    spark.sql(
      s"""SELECT node, ${TextSimSql.r("rank")} AS rank
         |FROM _it_pr_rank ORDER BY node""".stripMargin)
  }

  /** Personalized PageRank from the BUILDING-segment seeds, fixed
    * [[graft.analytics.Graph.PrIters]] rounds — the statement-level twin
    * of [[graft.analytics.Graph.personalizedPageRank]]: restart (and all
    * dangling) mass returns to the seed teleport vector each round. */
  private def ppr(spark: SparkSession): DataFrame = {
    import graft.analytics.Graph.{PrDamping, PrIters}
    view(spark, "_it_ppr_edges", customerPartEdgesSql)
    view(spark, "_it_ppr_nodetab",
      """SELECT b.node, b.has_out,
        |       (s.node IS NOT NULL) AS is_seed
        |FROM (
        |  SELECT node, MAX(o) AS has_out FROM (
        |    SELECT src AS node, 1 AS o FROM _it_ppr_edges
        |    UNION ALL SELECT dst AS node, 0 AS o FROM _it_ppr_edges
        |  ) GROUP BY node
        |) b LEFT JOIN (
        |  SELECT DISTINCT concat('c', CAST(c_custkey AS STRING)) AS node
        |  FROM customer WHERE c_mktsegment = 'BUILDING'
        |) s ON b.node = s.node""".stripMargin)
    val cnt = spark.sql(
      """SELECT SUM(CAST(is_seed AS BIGINT)) AS ns,
        |       SUM(CAST(1 - has_out AS BIGINT)) AS nd
        |FROM _it_ppr_nodetab""".stripMargin).head()
    val nSeeds = if (cnt.isNullAt(0)) 0L else cnt.getLong(0)
    require(nSeeds > 0, "SqlIterate(graph_ppr): no seed appears in the graph")
    val hasDangling = !cnt.isNullAt(1) && cnt.getLong(1) > 0L
    view(spark, "_it_ppr_e",
      """SELECT e.src, e.dst, d.outdeg
        |FROM _it_ppr_edges e JOIN (
        |  SELECT src, COUNT(*) AS outdeg FROM _it_ppr_edges GROUP BY src
        |) d ON e.src = d.src""".stripMargin)
    view(spark, "_it_ppr_nodes",
      s"""SELECT node,
         |  CASE WHEN is_seed THEN ${dlit(1.0 / nSeeds)}
         |       ELSE CAST(0.0 AS DOUBLE) END AS tp
         |FROM _it_ppr_nodetab""".stripMargin)
    view(spark, "_it_ppr_rank",
      "SELECT node, tp AS rank FROM _it_ppr_nodes")
    // dm = raw dangling rank sum (NOT /n): every unit restarts at tp
    val dmSql = if (hasDangling)
      """SELECT COALESCE(SUM(r.rank), CAST(0.0 AS DOUBLE)) AS _dm
        |FROM _it_ppr_rank r JOIN _it_ppr_nodetab t
        |  ON r.node = t.node AND t.has_out = 0""".stripMargin
    else "SELECT CAST(0.0 AS DOUBLE) AS _dm"
    for (_ <- 1 to PrIters) {
      view(spark, "_it_ppr_rank",
        s"""WITH agg AS (
           |  SELECT e.dst AS node, SUM(r.rank / e.outdeg) AS _s
           |  FROM _it_ppr_e e JOIN _it_ppr_rank r ON e.src = r.node
           |  GROUP BY e.dst
           |), dm AS ($dmSql)
           |SELECT t.node,
           |       (${dlit(1.0 - PrDamping)} * t.tp + ${dlit(PrDamping)} *
           |         (COALESCE(a._s, CAST(0.0 AS DOUBLE)) + dm._dm * t.tp)) AS rank
           |FROM _it_ppr_nodes t
           |LEFT JOIN agg a ON t.node = a.node CROSS JOIN dm""".stripMargin)
    }
    spark.sql(
      s"""SELECT node, ${TextSimSql.r("rank")} AS rank
         |FROM _it_ppr_rank ORDER BY node""".stripMargin)
  }

  /** HITS with per-half-step L1 normalization and the hub-side L1-delta
    * early exit — the statement-level twin of
    * [[graft.analytics.Graph.hitsWithRounds]] (tol
    * [[graft.analytics.Graph.HitsTol]] from round
    * [[graft.analytics.Graph.HitsTolFrom]]). */
  private def hits(spark: SparkSession): DataFrame = {
    import graft.analytics.Graph.{HitsIters, HitsTol, HitsTolFrom}
    view(spark, "_it_h_e", customerPartEdgesSql)
    view(spark, "_it_h_nodes",
      """SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM _it_h_e
        |  UNION ALL SELECT dst AS node FROM _it_h_e
        |)""".stripMargin)
    val n = spark.sql("SELECT COUNT(*) FROM _it_h_nodes").head().getLong(0)
    view(spark, "_it_h_hub",
      s"SELECT node, ${dlit(1.0 / n)} AS hub FROM _it_h_nodes")
    // one half-step: raw grouped sum over the union with the zero floor,
    // then the L1 divide — the same association order as Graph.l1
    def half(inView: String, inCol: String, joinKey: String, outKey: String,
        outView: String, outCol: String): Unit =
      view(spark, outView,
        s"""WITH raw AS (
           |  SELECT node, SUM(x) AS $outCol FROM (
           |    SELECT e.$outKey AS node, s.$inCol AS x
           |    FROM _it_h_e e JOIN $inView s ON e.$joinKey = s.node
           |    UNION ALL SELECT node, CAST(0.0 AS DOUBLE) FROM _it_h_nodes
           |  ) GROUP BY node
           |), l1 AS (SELECT SUM($outCol) AS _l1 FROM raw)
           |SELECT raw.node, raw.$outCol / l1._l1 AS $outCol
           |FROM raw CROSS JOIN l1""".stripMargin)
    var round = 0
    var converged = false
    while (round < HitsIters && !converged) {
      half("_it_h_hub", "hub", "src", "dst", "_it_h_auth", "auth")
      half("_it_h_auth", "auth", "dst", "src", "_it_h_nexthub", "hub")
      if (round + 1 >= HitsTolFrom) {
        val d = scalar(spark,
          """SELECT SUM(ABS(n.hub - p.hub))
            |FROM _it_h_nexthub n JOIN _it_h_hub p ON n.node = p.node"""
            .stripMargin)
        converged = d <= HitsTol
      }
      spark.table("_it_h_nexthub").createOrReplaceTempView("_it_h_hub")
      round += 1
    }
    spark.sql(
      s"""SELECT t.node,
         |  ${TextSimSql.r("COALESCE(h.hub, CAST(0.0 AS DOUBLE))")} AS hub,
         |  ${TextSimSql.r("COALESCE(a.auth, CAST(0.0 AS DOUBLE))")} AS auth
         |FROM _it_h_nodes t
         |LEFT JOIN _it_h_hub h ON t.node = h.node
         |LEFT JOIN _it_h_auth a ON t.node = a.node
         |ORDER BY t.node""".stripMargin)
  }

  /** Exact coreness by h-index iteration to the changed-count fixpoint —
    * the statement-level twin of [[graft.analytics.Graph.coreness]] over
    * the support-≥2 co-purchase graph. All-integer, so no float-parity
    * constraint at all; the h-index fold is the ROW_NUMBER formulation
    * (the same independent shape the DuckDB oracle uses). */
  private def kcore(spark: SparkSession): DataFrame = {
    import graft.analytics.Graph.CorenessHubCap
    view(spark, "_it_kc_pairs", coPurchasePairs)
    view(spark, "_it_kc_e",
      """SELECT a AS src, b AS dst FROM _it_kc_pairs
        |UNION ALL SELECT b AS src, a AS dst FROM _it_kc_pairs"""
        .stripMargin)
    view(spark, "_it_kc_c",
      "SELECT src AS id, COUNT(*) AS c FROM _it_kc_e GROUP BY src")
    var round = 0
    var converged = false
    val maxIters = 64
    while (round < maxIters && !converged) {
      view(spark, "_it_kc_next",
        s"""WITH nb AS (
           |  SELECT e.src AS id, cc.c AS v,
           |         ROW_NUMBER() OVER (PARTITION BY e.src
           |                            ORDER BY cc.c DESC) AS rn
           |  FROM _it_kc_e e JOIN _it_kc_c cc ON e.dst = cc.id
           |)
           |SELECT id, MAX(LEAST(v, CAST(rn AS BIGINT))) AS c
           |FROM nb WHERE rn <= $CorenessHubCap GROUP BY id""".stripMargin)
      val changed = scalar(spark,
        """SELECT COUNT(*) FROM _it_kc_next n
          |JOIN _it_kc_c p ON n.id = p.id AND n.c <> p.c""".stripMargin)
      converged = changed == 0.0
      spark.table("_it_kc_next").createOrReplaceTempView("_it_kc_c")
      round += 1
    }
    require(converged,
      s"SqlIterate(graph_kcore): not converged after $maxIters rounds")
    spark.sql(
      """SELECT id AS node, c AS coreness FROM _it_kc_c ORDER BY node"""
        .stripMargin)
  }
}
