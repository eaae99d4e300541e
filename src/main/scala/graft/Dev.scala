package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** The one dev-tool entry: `runMain graft.Dev <command> [args...]`.
  * `main` builds one local session, runs the command and stops the
  * session; [[run]] takes the session, so a spec can pass in a shared one.
  *
  * Commands (see each method's doc for what it measures):
  *  - `smoke [sfDir=sf0.001]`: entry rows + every query's row count, then
  *    the `[smoke] ALL OK` marker `scripts/gate.sh` greps for;
  *  - `plan <outDir> <suffix> [query...]`: formatted physical plans into
  *    `<outDir>/<query>_<suffix>.txt` (SF from `SPARK_GRAFT_SF_DIR`);
  *  - `jobs <query> [sfDir=sf0.1] [reps=1]`: per-Spark-job timeline;
  *  - `parity [query...]`: SQL-vs-DataFrame parity scan at sf0.001, one
  *    `[parity] <name> <STATUS> t=<sec>` line per query;
  *  - `sql <query...>`: print the Spark-dialect candidate statements;
  *  - `tile <srcDir> <outDir> [copies=10]`: FK-intact sf-K fixture;
  *  - `checkpoint [sfDir=sf0.1] [query...]`: reliable-checkpoint premium;
  *  - `hotband [viralWidth=20000] [benign=80000]`: viral-band LSH bench.
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-dev")
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args) finally spark.stop()
  }

  private val commands = ListMap[String, (SparkSession, Array[String]) => Unit](
    ("smoke", smoke), ("plan", plan), ("jobs", jobs), ("parity", parity),
    ("sql", (_, a) => sql(a)), ("tile", tile), ("checkpoint", checkpoint),
    ("hotband", hotband))

  def run(spark: SparkSession, args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("")
    val body = commands.getOrElse(cmd, throw new IllegalArgumentException(
      s"unknown dev command '$cmd'; commands: ${commands.keys.mkString(", ")}"))
    body(spark, args.drop(1))
  }

  /** Replicates the driver's t1 check — `SparkEntry.entry` on sf0.001 must
    * return rows, and each registered query must produce rows. */
  private def smoke(spark: SparkSession, args: Array[String]): Unit = {
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$n schema_cols=${SparkEntry.entry(spark).columns.length}")
    require(n > 0, "entry() returned no rows")
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val c = fn(spark, dir).count()
      println(s"[smoke] $name rows=$c")
    }
    // Terminal marker gate.sh greps for — only reached if every query ran.
    println("[smoke] ALL OK")
  }

  private val PlanDefaultSet: Seq[String] = Seq(
    "graph_pagerank", "graph_ppr", "graph_hits", "graph_pagerank_directed",
    "graph_kcore", "graph_components", "graph_modularity", "graph_triangles",
    "graph_linkpred", "agg_bootstrap", "sim_ann_recall", "sim_ann_pq",
    "sim_ann_ivf", "sim_kmeans", "topk_importance", "class_balance",
    "ml_feature_bins", "feat_importance_corr", "lake_zorder",
    "dedup_canonical", "sim_semantic_dedup", "text_langid_ngram",
    "tokenizer_segment", "corpus_curriculum", "target_encode_oof",
    "tokenizer_bpe", "text_boilerplate", "ml_matrix", "ml_pr_auc")

  /** Write the formatted physical plan of the named queries (or
    * [[PlanDefaultSet]], the bench's heaviest) to files under an output
    * directory — one session for all of them, so a 20-query dump does not
    * pay 20 JVM+session startups. Iterative queries print their POST-loop
    * plan (checkpoint scans) — that is what `.explain` can see; the
    * loop-internal round shapes are pinned by PlanSpec instead. */
  private def plan(spark: SparkSession, args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = if (args.length > 2) args.drop(2).toSeq else PlanDefaultSet
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] $n -> $outDir/${n}_$suffix.txt")
    }
  }

  /** Run one registered query (warm, then timed) and print the
    * per-Spark-job wall-clock timeline of the timed run — job id, duration,
    * stage count, task count, summed task time. The per-round cost of the
    * iterative operators is invisible in `explain` (the loop runs during
    * plan construction); this shows where the seconds go, job by job. */
  private def jobs(spark: SparkSession, args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1

    case class Job(id: Int, start: Long, var end: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0, var taskMs: Long = 0L,
      var names: List[String] = Nil, var desc: String = "")
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageToJob = mutable.Map.empty[Int, Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.synchronized {
          val j = Job(js.jobId, js.time)
          j.desc = Option(js.properties)
            .map(_.getProperty("spark.job.description", "")).getOrElse("")
          jobs(js.jobId) = j
          js.stageIds.foreach(sid => stageToJob(sid) = js.jobId)
        }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(je.jobId).foreach(_.end = je.time) }
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          stageToJob.get(sc.stageInfo.stageId).flatMap(jobs.get).foreach { j =>
            j.stages += 1
            j.tasks += sc.stageInfo.numTasks
            j.names ::= sc.stageInfo.name.takeWhile(_ != '\n').take(60)
          }
        }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          stageToJob.get(te.stageId).flatMap(jobs.get).foreach { j =>
            if (te.taskInfo != null) j.taskMs += te.taskInfo.duration
          }
        }
    }
    // a caller-owned session outlives this command: detach the listener
    spark.sparkContext.addSparkListener(listener)
    try {
      def run(): Double = {
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription("construct")
        val df = SparkEntry.queries(name)(spark, dir)
        val t1 = System.nanoTime()
        spark.sparkContext.setJobDescription("execute")
        df.write.format("noop").mode("overwrite").save()
        spark.sparkContext.setJobDescription(null)
        val t2 = System.nanoTime()
        println(f"[profjobs] construct ${(t1 - t0) / 1e9}%.3f s, " +
          f"execute ${(t2 - t1) / 1e9}%.3f s")
        (t2 - t0) / 1e9
      }
      run() // warm
      (1 until reps).foreach(_ => run())
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      val wall = run()
      Thread.sleep(500) // let listener events drain
      println(f"[profjobs] $name warm run: $wall%.3f s, ${jobs.size} jobs")
      var prevEnd = 0L
      jobs.values.toSeq.sortBy(_.start).foreach { j =>
        val dur = (j.end - j.start) / 1e3
        val gap = if (prevEnd == 0L) 0.0 else (j.start - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, j.end)
        println(f"[profjobs]   job ${j.id}%3d  ${dur}%7.3f s  (+gap ${gap}%6.3f s)  " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d taskTime=${j.taskMs / 1e3}%8.2f s  " +
          s"[${j.desc}] ${j.names.reverse.mkString(" | ")}")
      }
      val covered = jobs.values.map(j => j.end - j.start).sum / 1e3
      println(f"[profjobs] sum(job wall)=${covered}%.3f s of $wall%.3f s " +
        f"(driver-only gaps: ${wall - covered}%.3f s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Which registered queries run on `spark.sql` through the Spark-dialect
    * surface (graft.oracle.SparkSql — the dialect-bridged oracle text or a
    * hand-written override) and match the DataFrame plan value-for-value.
    * Prints one line per query; `scripts/parity_curate.py` turns the OK
    * set into the curated list SqlParitySpec pins.
    *
    * Round-11 result (verbatim oracle text, no bridge): 66/321. Round 12
    * adds the mechanical dialect bridge + overrides; run this to
    * regenerate the coverage list after touching either. */
  private def parity(spark: SparkSession, args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.001"
    for (t <- Seq("lineitem","orders","customer","supplier","part","nation","region","events","documents","embeddings"))
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    def canon(df: DataFrame): Seq[String] = {
      val cols = df.columns.sorted.toIndexedSeq
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map {
          case null => "∅"
          // microsecond resolution, same canon as SqlParitySpec — a bridge
          // rule that shifts an instant sub-second must show up in the scan
          case t: java.sql.Timestamp =>
            (t.getTime / 1000L * 1000000L + t.getNanos / 1000L).toString
          // NTZ (raw parquet view) and session-tz (engine reader) render
          // differently but mean the same UTC instant in this engine —
          // compare on the instant
          case t: java.time.LocalDateTime =>
            (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
              t.getNano / 1000L).toString
          // the engines may type the same exact value DECIMAL vs DOUBLE
          // (e.g. a decimal-accumulated column divided out) — compare on
          // the double value when exact, else fail loud via plain string
          case d: java.math.BigDecimal =>
            val dd = d.doubleValue()
            if (new java.math.BigDecimal(dd).compareTo(d) == 0) dd.toString
            else d.stripTrailingZeros.toPlainString
          case x => x.toString
        }.mkString("|")).toSeq.sorted
    }
    val wanted: String => Boolean =
      if (args.isEmpty) _ => true else args.toSet
    // A DuckDB-shaped statement can plan pathologically on Spark (the
    // oracle never promises an efficient Spark plan) — bound each query
    // with a watchdog so one degenerate plan can't stall the whole scan.
    // The watchdog must INTERRUPT the worker thread, not just abandon it:
    // cancelJobGroup stops cluster jobs, but a recursive-CTE replay keeps
    // burning the DRIVER between jobs, and abandoned workers pile up until
    // the JVM grinds (observed: 6 zombie recursions made ingest_bars_csv
    // "time out").
    for ((q, _) <- SparkEntry.oracleSql.toSeq.sortBy(_._1) if wanted(q)) {
      val sql = graft.oracle.SparkSql.candidate(q).get
      def attempt(): String = try {
        spark.sparkContext.setJobGroup(q, q, interruptOnCancel = true)
        val viaSql = canon(spark.sql(sql))
        try {
          val viaDf = canon(SparkEntry.queries(q)(spark, dir))
          if (viaDf == viaSql) "OK"
          else {
            val diff = viaDf.zipAll(viaSql, "<missing>", "<missing>")
              .find { case (a, b) => a != b }
            s"MISMATCH rows ${viaDf.size}/${viaSql.size} first-diff " +
              diff.map { case (a, b) => s"df=[${a.take(120)}] sql=[${b.take(120)}]" }.getOrElse("")
          }
        } catch { case e: Throwable => s"DF_FAIL ${e.getClass.getSimpleName}" }
      } catch {
        case e: org.apache.spark.sql.catalyst.parser.ParseException =>
          s"PARSE_FAIL ${Option(e.getMessage).getOrElse("").linesIterator
            .filter(_.nonEmpty).take(3).mkString(" | ").take(220)}"
        case e: Throwable => s"EXEC_FAIL ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(80)}"
      }
      val t0 = System.nanoTime()
      @volatile var out: String = "TIMEOUT"
      val worker = new Thread(() => {
        val r = try attempt() catch { case _: InterruptedException => "TIMEOUT"
          case e: Throwable => s"EXEC_FAIL ${e.getClass.getSimpleName}" }
        out = r
      }, s"parity-$q")
      worker.setDaemon(true)
      worker.start()
      worker.join(sys.env.getOrElse("SPARK_GRAFT_PARITY_TIMEOUT_MS", "90000").toLong)
      if (worker.isAlive) {
        spark.sparkContext.cancelJobGroup(q)
        worker.interrupt()
        worker.join(10000L)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[parity] $q $out%s t=$sec%.1f")
    }
  }

  /** Print the Spark-dialect candidate statement for the given names. */
  private def sql(args: Array[String]): Unit =
    args.foreach { q =>
      println(s"========== $q")
      println(graft.oracle.SparkSql.candidate(q).getOrElse("<none>"))
    }

  /** Tile the sf0.1 testdata to ~sf1/sf10 for the scale-validation sweep.
    * Each table is replicated `copies`× with its keys offset per copy, and
    * — critically — every FOREIGN key is offset by the span of the
    * DIMENSION it references, with the dimension tiled by the same span.
    * Copies are therefore disjoint AND referentially intact: copy k's
    * orders join copy k's customers, so join selectivity at sf-K matches a
    * true sf-K (the r12 tiling left dims untiled, which made copies 1..K-1
    * dangle and join-family sweeps measure K× scan at 1/K selectivity).
    *  - events ×K: user ids still fold onto the same 32 symbols, so each
    *    per-symbol window series is K× LONGER (the window-family test);
    *    per-event_type groups are K× larger (the aggregate-family test).
    *  - lineitem ×K with orderkey/partkey/suppkey offsets matching the
    *    orders/part/supplier tiling: the co-purchase graph gets K× nodes
    *    and K× edges (graph-family test) and dimension joins stay
    *    K-selective.
    *  - embeddings ×K with vec_id offsets: the ANN corpus is K× larger
    *    against the same probe set (vec_id < numProbes lives in copy 0).
    *  - nation/region/documents copied through (nationkeys are not offset,
    *    so customer/supplier FKs into them stay valid in every copy).
    *
    * Writes parquet; the outDir is a drop-in SPARK_GRAFT_SF_DIR for a
    * filtered Bench run. */
  private def tile(spark: SparkSession, args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10

    def table(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    // one span per KEY DOMAIN, computed on the table that owns the key and
    // shared by every table referencing it — offsets must agree or FKs dangle
    def span(t: String, c: String): Long =
      table(t).agg(max(col(c))).head().getLong(0) + 1L
    val spans = Map(
      "orderkey" -> span("orders", "o_orderkey"),
      "custkey" -> span("customer", "c_custkey"),
      "suppkey" -> span("supplier", "s_suppkey"),
      "partkey" -> span("part", "p_partkey"),
      "event_id" -> span("events", "event_id"),
      "user_id" -> span("events", "user_id"),
      "vec_id" -> span("embeddings", "vec_id"))

    def tiled(t: String, keys: (String, String)*): DataFrame = {
      val exploded = table(t).crossJoin(
        spark.range(copies).select(col("id").as("_copy")))
      keys.foldLeft(exploded) { case (d, (c, domain)) =>
        d.withColumn(c, col(c) + col("_copy") * spans(domain))
      }.drop("_copy")
    }

    def write(df: DataFrame, t: String): Unit = {
      // The tiled frame inherits the SOURCE's partition count (sf0.1 tables
      // are single small files -> 1 split), so a naive write produced ONE
      // 80 MB+ file per table and every downstream scan ran as ONE task —
      // an artifact of the fixture, not of scale (a true sf-K arrives as
      // many files). One output file per copy keeps scan parallelism
      // proportional to the tiled volume, like real data.
      df.repartition(math.max(8, copies))
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[tile] $t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }

    write(tiled("events", "event_id" -> "event_id", "user_id" -> "user_id"), "events")
    write(tiled("lineitem", "l_orderkey" -> "orderkey",
      "l_partkey" -> "partkey", "l_suppkey" -> "suppkey"), "lineitem")
    write(tiled("orders", "o_orderkey" -> "orderkey",
      "o_custkey" -> "custkey"), "orders")
    write(tiled("customer", "c_custkey" -> "custkey"), "customer")
    write(tiled("supplier", "s_suppkey" -> "suppkey"), "supplier")
    write(tiled("part", "p_partkey" -> "partkey"), "part")
    write(tiled("embeddings", "vec_id" -> "vec_id"), "embeddings")
    for (t <- Seq("nation", "region", "documents"))
      write(table(t), t)
  }

  /** Measure the RELIABLE-checkpoint premium under load, not just prove
    * row-identity in spec. Runs the iterative family twice per policy
    * (min-of-2 — cold JIT dominates the first run) with
    * `spark.graft.checkpoint=local` vs `=reliable` (+ a checkpoint dir),
    * and verifies the two policies emit hash-identical rows in the same
    * run. One line per query: local/reliable best-of seconds and the
    * premium ratio a cluster operator pays for executor-loss safety. The
    * checkpoint dir it sets cannot be unset, so run it in its own session
    * (`SPARK_GRAFT_CPUS=32 sbt "runMain graft.Dev checkpoint ..."`). */
  private def checkpoint(spark: SparkSession, args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val qs = if (args.length > 1) args.toSeq.tail
      else Seq("graph_pagerank", "graph_ppr", "graph_kcore", "sim_kmeans")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-").toString

    def canonHash(rows: Array[org.apache.spark.sql.Row]): Int =
      rows.map(_.toString).sorted.mkString("\n").hashCode

    for (q <- qs) {
      def once(mode: String): (Double, Int) = {
        spark.conf.set(graft.source.Checkpoint.ModeConf, mode)
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(q)(spark, sf).collect()
        ((System.nanoTime() - t0) / 1e9, canonHash(rows))
      }
      // local first (both runs), THEN configure the durable dir for the
      // reliable side — the dir is context-global and cannot be unset
      val l = Seq(once("local"), once("local"))
      spark.sparkContext.setCheckpointDir(ckpt)
      val r = Seq(once("reliable"), once("reliable"))
      val lBest = l.map(_._1).min
      val rBest = r.map(_._1).min
      val hashes = (l ++ r).map(_._2).distinct
      val ok = hashes.size == 1
      println(f"[ckpt-bench] $q local=$lBest%.2fs reliable=$rBest%.2fs " +
        f"premium=${rBest / lBest}%.2fx hash_equal=$ok")
      require(ok, s"$q: policies disagree on rows — hashes $hashes")
    }
  }

  /** The adversarial viral-band fixture.
    *
    * Plants a documents corpus with one VIRAL near-duplicate cluster (same
    * boilerplate text with a per-doc numeric tail that leaves every
    * MinHash band identical) inside a larger benign corpus, then times LSH
    * candidate generation through `Dedup.bucketSelfPairs` twice:
    *   - PLAIN: hot-bucket valve disabled (hotCap = MaxValue) — the band
    *     equi-join enumerates the viral bucket's B²/2 pairs in ONE task
    *     (one join key = one reducer): the straggler the valve exists for.
    *   - SALTED: default valve — the same pair set, spread over
    *     HotBucketSalts sub-keys, so every core shares the quadratic work.
    *
    * Both paths must agree on the pair COUNT (the spec-level pair-identity
    * proof, re-checked here at adversarial scale). The pair-list contract
    * is inherently Θ(B²) in cluster width — no partitioning can shrink it,
    * only spread it; at true 100 TB virality the right contract switch is
    * cluster-emission (dedup_clusters) after exact-digest collapse
    * (dedup_exact), both registered queries. */
  private def hotband(spark: SparkSession, args: Array[String]): Unit = {
    val viral = if (args.length > 0) args(0).toInt else 20000
    val benign = if (args.length > 1) args(1).toInt else 80000

    // near-identical: shared 40-word boilerplate + unique tail. The tail
    // changes ONE shingle out of ~40, so all 4 bands of the 16-hash
    // signature almost surely agree across the cluster -> one viral bucket.
    // The benign corpus must be shingle-DIVERSE (every word doc-unique):
    // a first cut gave each benign doc a shared 3-word prefix, whose
    // shingle dominated the tiny MinHash sets and silently formed 65k-wide
    // BENIGN buckets - the measurement drowned in their distinct shuffle.
    val boiler = (1 to 40).map(i => s"boilerplate$i").mkString(" ")
    val benignWords = (0 until 12).map(j =>
      md5(concat(col("id").cast("string"), lit(s"_$j"))))
    val docs = spark.range(viral + benign).select(
      col("id").as("doc_id"),
      when(col("id") < viral, concat(lit(boiler + " tail"), col("id").cast("string")))
        .otherwise(concat_ws(" ", benignWords: _*)).as("text"))
      .localCheckpoint()

    import graft.text.Dedup
    val banded = Dedup.banded(Dedup.minhashSignatures(docs)).localCheckpoint()
    println(s"[hotband] corpus: $viral viral + $benign benign docs")
    val widths = banded.groupBy("band_idx", "band_val").count()
      .orderBy(desc("count")).limit(3).collect()
    widths.foreach(r => println(s"[hotband] bucket width: ${r.getLong(2)}"))

    def time(label: String, hotCap: Int): Long = {
      val t0 = System.nanoTime()
      val n = Dedup.bucketSelfPairs(banded, Seq("band_idx", "band_val"),
        hotCap = hotCap).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[hotband] $label%8s: $n%d pairs in $sec%.1f s")
      n
    }
    val nSalted = time("salted", Dedup.HotBucketCap)
    val nPlain = time("plain", Int.MaxValue)
    require(nPlain == nSalted,
      s"pair sets diverge: plain $nPlain vs salted $nSalted")
  }
}
