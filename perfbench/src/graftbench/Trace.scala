package graftbench

import scala.collection.mutable

import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer accounting for a traced run.
  *
  * Spans are timed around the benchmark's own calls into each module; the
  * scheduler and Catalyst layers come from a SparkListener and a
  * QueryExecutionListener registered here. Everything is summed in memory
  * while a timed unit is open and written out once, divided by the number
  * of units, when the run ends. With tracing off, `span` is a plain call and
  * no listener is registered.
  */
final class Trace(val enabled: Boolean) {
  private val sums = mutable.LinkedHashMap[String, Double]()
  private val intervals = mutable.ArrayBuffer[(String, Long, Long)]()
  private val jobStarts = mutable.ArrayBuffer[Long]()
  private val taskSpans = mutable.ArrayBuffer[(Long, Long)]()
  @volatile private var open = false
  private var spark: SparkSession = _

  def add(name: String, v: Double): Unit =
    if (enabled && open) synchronized { sums(name) = sums.getOrElse(name, 0.0) + v }

  def span[T](name: String)(body: => T): T =
    if (!enabled || !open) body
    else {
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      try body
      finally {
        add(name, (System.nanoTime() - t0) / 1e9)
        synchronized { intervals += ((name, w0, System.currentTimeMillis())) }
      }
    }

  private var openedAt = 0L

  /** Open a traced window around a step. The caller has drained the
    * listener bus, so no event of earlier work is counted. */
  def begin(): Unit = if (enabled) { openedAt = System.currentTimeMillis(); open = true }

  /** Close the traced window, if it is still open: flush the listener bus,
    * then charge the window's wall time not covered by any running task to
    * exec.driver_gap_s. A workload closes it itself where a step ends with
    * untimed work (collecting outputs for the checks, cleaning up), so that
    * this work is not charged to the units. */
  def end(): Unit = if (enabled && open) {
    val (w0, w1) = (openedAt, System.currentTimeMillis())
    Bus.drain(spark.sparkContext)
    synchronized {
      val spans = taskSpans.map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var cur = (-1L, -1L)
      spans.foreach { case (a, b) =>
        if (a > cur._2) { covered += cur._2 - cur._1; cur = (a, b) }
        else cur = (cur._1, math.max(cur._2, b))
      }
      covered += cur._2 - cur._1
      sums("exec.driver_gap_s") = sums.getOrElse("exec.driver_gap_s", 0.0) + (w1 - w0 - covered) / 1e3
      val fits = intervals.filter(_._1 == "ml.fit_s")
      val n = jobStarts.count(t => fits.exists { case (_, a, b) => t >= a && t <= b })
      sums("ml.fit_jobs") = sums.getOrElse("ml.fit_jobs", 0.0) + n
      taskSpans.clear(); jobStarts.clear(); intervals.clear()
    }
    open = false
  }

  def install(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (open) {
        add("exec.jobs", 1); synchronized { jobStarts += e.time }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("exec.stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (open && e.taskMetrics != null) {
        val m = e.taskMetrics
        add("exec.tasks", 1)
        add("exec.task_s", m.executorRunTime / 1e3)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("exec.shuffle_read_mb",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6)
        add("exec.spill_mb", m.diskBytesSpilled / 1e6)
        add("source.scan_rows", m.inputMetrics.recordsRead.toDouble)
        add("source.scan_mb", m.inputMetrics.bytesRead / 1e6)
        synchronized { taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime)) }
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (open) record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(ph => add(s"plan.${p}_s", ph.durationMs / 1e3))
    }
    val f = Trace.planFacts(qe.executedPlan)
    add("plan.exchanges", f.exchanges)
    add("plan.single_partition_windows", f.singlePartitionWindows)
    add("plan.nested_loop_joins", f.nestedLoopJoins)
    if (f.writes) {
      add("features.exchanges", f.exchanges)
      add("features.window_ops", f.windows)
      add("features.partitions", f.shufflePartitions)
    }
  }

  /** Per-unit values: every metric in `names`, summed over the timed units
    * and divided by `units` (0 for a layer that did not run). */
  def perUnit(names: Seq[String], units: Int): Map[String, Double] = synchronized {
    names.map(n => n -> sums.getOrElse(n, 0.0) / math.max(units, 1)).toMap
  }
}

object Trace extends AdaptiveSparkPlanHelper {
  case class PlanFacts(exchanges: Int, singlePartitionWindows: Int, nestedLoopJoins: Int,
      windows: Int, shufflePartitions: Int, writes: Boolean)

  /** Plan-shape counts over an executed plan, looking through AQE stages. */
  def planFacts(plan: SparkPlan): PlanFacts = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val windows = nodes.collect { case w: WindowExec => w }
    val reads = nodes.collect { case r: AQEShuffleReadExec => r.partitionSpecs.size }
    val exch = nodes.collect { case e: ShuffleExchangeLike => e }
    PlanFacts(
      exchanges = exch.size,
      singlePartitionWindows = windows.count(_.partitionSpec.isEmpty),
      nestedLoopJoins = nodes.count {
        case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true
        case _ => false
      },
      windows = windows.size,
      shufflePartitions = reads.headOption.orElse(exch.headOption.map(_.numPartitions)).getOrElse(0),
      writes = nodes.exists {
        case _: DataWritingCommandExec | _: WriteFilesExec => true
        case _ => false
      })
  }
}
