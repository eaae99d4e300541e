package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: times every registered query at the bench SF and
  * prints ONE JSON line.
  *
  * Methodology:
  *  - noop sink (`format("noop")`) forces FULL evaluation of every output
  *    column — `count()` would let Catalyst prune the feature projections
  *    and time little more than the parquet scan;
  *  - one untimed warmup query first, so JIT + codegen + filesystem cache
  *    effects land outside the measurements (steady-state numbers,
  *    matching how the reference's scaling notebook benchmarks after import);
  *  - a single shared session across queries, like a real analytics service.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench")

    // Bench-only extras: tracked perf numbers for documented at-scale
    // variants that are deliberately NOT oracle-gated (the approx path
    // trades exactness for bounded state; OpsSpec holds it within one rank
    // of the exact percentiles).
    val benchOnly: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      Seq(
        "window_median_approx" ->
          ((s: SparkSession, d: String) => graft.queries.Analytics.windowMedianApprox(s, d)),
        "agg_distinct_approx" ->
          ((s: SparkSession, d: String) => graft.queries.Analytics.aggDistinctApprox(s, d)),
        "events_hll_rollup" ->
          ((s: SparkSession, d: String) => graft.queries.Analytics.eventsHllRollup(s, d)))
    val benchable = SparkEntry.queries.toSeq ++ benchOnly

    // Optional args = query-name filter (dev iteration); no args = all.
    // A typo'd name must fail loudly BEFORE the multi-minute warmup +
    // headline block, not after it.
    val known = benchable.map(_._1).toSet
    require(args.forall(known), s"unknown query name(s): ${args.filterNot(known).mkString(", ")}")

    def runOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] query failed: $name")
        e.printStackTrace()
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // Debris valve (r14, measured): a long shared-session sweep accumulates
    // dead-but-uncollected driver garbage — expired checkpoint/broadcast
    // blocks wait on ContextCleaner, whose weak refs only fire on a GC, and
    // spark.cleaner.periodicGC.interval defaults to 30min (longer than the
    // whole sweep). Probe: graph_linkpred 5.25 s fresh → 6.73 s after 60
    // unrelated queries → 5.73 s after System.gc() (heap 5.8 GB → 0.12 GB
    // live). Without this, each query's number is charged whatever garbage
    // the ~alphabetically-previous queries happened to leave — round-over-
    // round diffs then move when an unrelated query is added. The valve
    // runs OUTSIDE every timed region and only when heap debt actually
    // accumulated (live set after collection is ~0.1-1 GB, so each GC is
    // cheap); the timed work per query is unchanged — every run still
    // computes from parquet.
    def gcIfDirty(): Unit = {
      val rt = Runtime.getRuntime
      if (rt.totalMemory() - rt.freeMemory() > (2L << 30)) System.gc()
    }

    // Filtered runs are for dev iteration, not BASELINE.md comparison:
    // skip the multi-minute warmup + headline block and time only the
    // requested queries (fail-fast all the way through).
    val headline = args.isEmpty

    // Warmup + NOISE PROBE: the heaviest composite runs once untimed
    // (JIT + codegen + filesystem cache), then three timed repeats of the
    // same fixed work are emitted as `noise_probe_samples`. Different
    // boxes (and different co-tenant loads) run the identical probe work
    // at different speeds — r11's driver box measured a near-uniform 1.5×
    // above the builder's and manufactured 20 phantom "regressions" in the
    // raw round-over-round diff — so bench_diff divides each query's time
    // by the probe ratio and flags on the NORMALIZED ratio. Caveat,
    // documented: the probe is ml_matrix itself, so a deliberate change to
    // the feature pipeline moves the probe too — bench_diff prints both
    // raw and normalized ratios precisely so that case stays visible.
    val noiseProbe: Option[Seq[Double]] =
      if (!headline) None
      else SparkEntry.queries.get("ml_matrix").map { fn =>
        runOne("ml_matrix", fn) // untimed warmup
        (1 to 3).map(_ => runOne("ml_matrix", fn))
      }

    // Headline throughput FIRST, right after warmup: the 70-query sweep
    // leaves checkpoint blocks and GC pressure behind, and measuring the
    // one number judged against BASELINE.md inside that debris cost a
    // steady ~15% — the reference's scaling notebook also benchmarks in a
    // fresh process.
    //
    // Apples-to-apples with BASELINE.md: the reference benchmarks
    // compute_all_features (49 features) over a frame tiled to 1M rows
    // (notebooks/scaling_analysis.ipynb cell 3's create_scaled_dataset).
    // Same methodology: tile the bars frame to ~1M rows, time the full
    // 49-feature pipeline into a noop sink, report rows/sec.
    // (rows, best sec, rows/sec, raw samples) for a tiled pipeline run
    def tiledThroughput(targetRows: Long, reps: Int): (Long, Double, Double, Seq[Double]) = {
      import org.apache.spark.sql.functions._
      val bars = graft.source.Bars.bars(spark, sfDir)
      val n = bars.count()
      val copies = math.max(1L, targetRows / math.max(n, 1L)).toInt
      val tiled = bars
        .crossJoin(spark.range(copies).select(col("id").as("_copy")))
        .withColumn("symbol", concat_ws("_", col("symbol"), col("_copy")))
        .drop("_copy")
      val rows = n * copies
      val pipeline = graft.features.Features.computeAllFeatures(tiled)
      pipeline.write.format("noop").mode("overwrite").save() // untimed warm run
      // best of `reps` timed runs: the headline number must reflect the
      // engine, not a co-tenant stealing the box for one run — this box
      // shows ±15% (occasionally −40%) single-run dips; raw samples are
      // emitted too so a regression can be told apart from one bad run
      val samples = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        pipeline.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val sec = samples.min
      (rows, sec, rows / sec, samples)
    }

    // 1M rows: the like-for-like BASELINE.md point (reference benchmarks
    // compute_all_features over 1M tiled rows). 10M rows: BASELINE.md's
    // largest published point — measures, rather than asserts, that the
    // 4-window/1-exchange plan scales near-linearly one decade up (the
    // cheapest strong evidence for the 100× story). Fewer reps at 10M: each
    // run is ~10× longer, so 3 samples bound co-tenant noise at acceptable
    // wall-clock cost.
    // 7 reps at 1M / 4 at 10M: co-tenant noise on this box is one-sided
    // (runs only ever get slower), so min-of-more-samples estimates the
    // true floor strictly better; the two extra 1M runs cost ~3 s.
    val throughput = if (!headline) None else Some(tiledThroughput(1000000L, 7))
    val throughput10m = if (!headline) None else Some(tiledThroughput(10000000L, 4))

    val selected =
      if (args.isEmpty) benchable
      else benchable.filter(kv => args.contains(kv._1))

    // Best of two runs per query (three for slow queries): the first run
    // absorbs per-plan codegen/JIT, min() suppresses co-tenant noise —
    // steady-state numbers, matching how the reference's scaling notebook
    // measures warmed loops. Box noise here is ONE-SIDED (co-tenant runs
    // only ever get slower), so min-of-N estimates the true floor strictly
    // better than a median, and each extra sample cuts the false-regression
    // probability multiplicatively; queries at/above `SlowQuerySec` (the
    // graph family swings ~2× between identical-code runs) get the third
    // sample, where the absolute wall-clock risk concentrates. Raw samples
    // ride along in the JSON so a round-over-round regression can be
    // attributed to variance (one outlier sample) without a re-run, and
    // bench_diff compares min-over-samples, not the single stored value.
    val SlowQuerySec = 2.0
    val results = selected.sortBy(_._1).map { case (name, fn) =>
      gcIfDirty() // outside the timed region — see the note above
      val t1 = runOne(name, fn)
      val t2 = runOne(name, fn)
      val ok2 = Seq(t1, t2).filter(_ >= 0)
      val samples =
        if (ok2.nonEmpty && ok2.min >= SlowQuerySec) Seq(t1, t2, runOne(name, fn))
        else Seq(t1, t2)
      val ok = samples.filter(_ >= 0)
      val best = if (ok.isEmpty) -1.0 else ok.min
      (name, best, samples)
    }

    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val samplesJson = results
      .map { case (k, _, ss) => "\"" + k + "\":" + ss.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // Filtered (dev) runs emit the headline keys as null rather than
    // omitting them, so any parser treating them as required still works.
    def headlineKeys(prefix: String,
        t: Option[(Long, Double, Double, Seq[Double])]): String = t match {
      case Some((rows, sec, rps, ss)) =>
        s""""${prefix}rows":$rows,"${prefix}sec":$sec,""" +
          s""""${prefix}rows_per_sec":${rps.toLong},""" +
          s""""${prefix}samples":${ss.mkString("[", ",", "]")},"""
      case None =>
        s""""${prefix}rows":null,"${prefix}sec":null,""" +
          s""""${prefix}rows_per_sec":null,"${prefix}samples":null,"""
    }
    val headlineJson = headlineKeys("feature_pipeline_", throughput) +
      headlineKeys("feature_pipeline_10m_", throughput10m)
    val probeJson = noiseProbe match {
      case Some(ss) =>
        val good = ss.filter(_ >= 0)
        val best = if (good.isEmpty) "null" else good.min.toString
        s""""noise_probe_samples":${ss.mkString("[", ",", "]")},""" +
          s""""noise_probe_sec":$best,"""
      case None => s""""noise_probe_samples":null,"noise_probe_sec":null,"""
    }
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""samples":$samplesJson,""" + probeJson +
      headlineJson + s""""sf":"$sfDir"}"""
    println(json)
    // A failed sample (-1) fails the sweep: `total` leaves it out, so a
    // sweep that passed would report a broken query as a faster total.
    val failed = results.collect { case (k, _, ss) if ss.exists(_ < 0) => k } ++
      noiseProbe.filter(_.exists(_ < 0)).map(_ => "noise_probe")
    // The driver keeps only a short stdout tail, which truncates the
    // per-query sample arrays — persist the full blob so round-over-round
    // regressions can be diffed without a re-run (see BENCH.md). Full
    // sweeps that ran clean only: a dev-filtered or failed run must not
    // clobber the last good sweep's record. Written to the working
    // directory, which sbt's forked `run` sets to the repository root.
    if (headline && failed.isEmpty)
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_out.json"),
        (json + "\n").getBytes("UTF-8"))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
