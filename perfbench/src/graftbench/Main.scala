package graftbench

import java.lang.management.ManagementFactory

import scala.util.{Failure, Success, Try}

import graft.GraftSession
import graftbench.Workload.timed
import org.apache.spark.graftbench.Bus

/** Runs one workload in this JVM and prints `RESULT <json>` as the last
  * line of stdout.
  *
  * Closed loop, one client: the next unit starts when the previous one has
  * finished, for `--seconds`; a step is never cut short, so the run ends
  * with the first step that finishes past the deadline. Garbage is
  * collected between steps, outside the timed units. A unit that throws is
  * counted as failed, never dropped.
  */
object Main {
  val PerLayer: Seq[String] = Seq(
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "plan.exchanges", "plan.single_partition_windows", "plan.nested_loop_joins",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.cpu_s", "exec.gc_s",
    "exec.driver_gap_s", "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
    "source.scan_rows", "source.scan_mb", "source.save_s", "source.files_written", "source.output_mb",
    "features.build_s", "features.exchanges", "features.window_ops", "features.partitions",
    "stream.add_batch_s", "stream.latest_offset_s", "stream.query_planning_s", "stream.wal_commit_s",
    "stream.state_rows", "stream.state_mb", "stream.dropped_by_watermark",
    "ml.split_s", "ml.assemble_s", "ml.fit_s", "ml.fit_jobs", "ml.s_per_tree", "ml.evaluate_s", "ml.score_s")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    if (workload == "selftest") { emit(SelfTest.run(), 1, 0, Map.empty); return }
    if (workload == "classlist") { loadClasses(opt("cores"), opt("workdir")); return }
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val work = opt("workdir")
    val trace = new Trace(opt("trace") == "1")

    val spark = GraftSession.builder("graftbench", Some(s"local[${opt("cores")}]"))
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    trace.install(spark)
    // Between steps, outside the timed units: the listener bus catches up and
    // garbage is collected, so neither spills into the next unit. The heap
    // left after the collection is the live heap, whose largest value counts
    // in peak_rss_mb.
    val heap = ManagementFactory.getMemoryMXBean
    var liveHeap = 0L
    def settle(): Unit = {
      Bus.drain(spark.sparkContext)
      System.gc()
      liveHeap = math.max(liveHeap, heap.getHeapMemoryUsage.getUsed)
      Bus.drain(spark.sparkContext)
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def since = (System.currentTimeMillis() - jvmStart) / 1e3
    System.err.println(f"[perfbench] session ready at $since%.2f s")
    val w = Workload.make(workload, spark, seed, work, trace, small = false)
    w.setup()
    System.err.println(f"[perfbench] inputs ready at $since%.2f s")
    val warm = (1 to w.warmSteps).map { _ =>
      settle()
      timed(w.warmStep())
    }
    settle()
    System.err.println(s"[perfbench] warm-up steps (s): ${warm.map(x => f"$x%.3f").mkString(" ")}")

    val setupS = since
    val units = scala.collection.mutable.ArrayBuffer[Double]()
    var attempted = 0
    var failed = 0
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      trace.begin()
      val r = Try(w.step())
      trace.end()
      r match {
        case Success(ts) => units ++= ts; attempted += ts.size
        case Failure(e) =>
          System.err.println(s"[perfbench] unit failed: $e")
          e.printStackTrace()
          attempted += w.unitsPerStep; failed += w.unitsPerStep
      }
      settle()
    }

    val failures = Try(w.check()) match {
      case Success(f) => f
      case Failure(e) => e.printStackTrace(); Seq(s"check threw $e")
    }
    failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
    System.err.println(f"[perfbench] checked at $since%.2f s")
    val sorted = units.sorted
    val p50 = if (sorted.isEmpty) Double.NaN else median(sorted.toSeq)
    System.err.println(f"[perfbench] $workload seed=$seed units=${units.size} failed=$failed " +
      f"p50=$p50%.4f s setup=$setupS%.2f s units: ${units.map(u => f"$u%.3f").mkString(" ")}")
    val metrics =
      if (!trace.enabled) Map(
        "setup_s" -> (setupS, "s"),
        "op_p50_s" -> (p50, "s"),
        "rows_per_s" -> (w.rowsPerUnit / p50, "1/s"),
        "peak_rss_mb" -> (programRssMb(liveHeap), "MB"))
      else
        trace.perUnit(PerLayer ++ w.extraLayers, units.size).map { case (k, v) => k -> (v, unit(k)) } +
          ("trace.op_p50_s" -> (p50, "s"))
    emit(failures.isEmpty, attempted, failed, metrics)
    spark.stop()
    System.err.println(f"[perfbench] stopped at $since%.2f s")
  }

  def median(sorted: Seq[Double]): Double =
    if (sorted.size % 2 == 1) sorted(sorted.size / 2)
    else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2

  /** The program's part of this JVM's peak resident set, in MiB: the peak
    * resident set (VmHWM) with the fixed, pre-touched heap replaced by the
    * largest live heap seen after a collection between steps. What is left
    * of VmHWM is everything off the heap: metaspace, code cache, thread
    * stacks, direct buffers, RocksDB. */
  def programRssMb(liveHeap: Long): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    val hwmKb = try status.getLines().collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble }
      .getOrElse(Double.NaN)
    finally status.close()
    val committed = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    val mb = 1024.0 * 1024
    System.err.println(f"[perfbench] memory: VmHWM ${hwmKb / 1024}%.1f MB, heap committed ${committed / mb}%.1f MB, " +
      f"largest live heap ${liveHeap / mb}%.1f MB")
    (hwmKb * 1024 - committed + liveHeap) / mb
  }

  /** Loads the classes every listed workload uses, for the class-data
    * archive run.py writes when it builds: one small warm-up step of each
    * workload in one session, traced, then its check. Nothing is reported. */
  def loadClasses(cores: String, work: String): Unit = {
    val spark = GraftSession.builder("graftbench", Some(s"local[$cores]"))
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val trace = new Trace(true)
    trace.install(spark)
    Workload.Listed.foreach { name =>
      Try {
        val w = Workload.make(name, spark, 1, s"$work/$name", trace, small = true)
        w.setup()
        trace.begin()
        w.warmStep()
        trace.end()
        w.check()
      }.failed.foreach(e => System.err.println(s"[perfbench] class loading: $name failed: $e"))
    }
    spark.stop()
  }

  def unit(name: String): String =
    if (name.endsWith("_s") || name == "ml.s_per_tree") "s" else if (name.endsWith("_mb")) "MB" else "count"

  def emit(correct: Boolean, attempted: Int, failed: Int, metrics: Map[String, (Double, String)]): Unit = {
    val m = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""RESULT {"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$m}}""")
  }
}
