package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration.
  *
  * - `ansi=false`: the reference (Polars) and the DuckDB oracle both yield
  *   null on division-by-zero; non-ANSI Spark matches.
  * - UTC session timezone + µs parquet timestamps: bit-stable timestamps
  *   across Spark, DuckDB and the driver's comparison.
  * - shuffle partitions default to the local core count (overridable): at
  *   cluster scale this would instead be sized to data volume / AQE target.
  * - AQE on: runtime coalescing + skew-join splitting are the 100 TB story
  *   for the skewed shuffles this engine can produce.
  * - `nanosAsLong`: INT64 TIMESTAMP(NANOS) event files read as a long, which
  *   `Bars.decodeTs` truncates to µs for both `Bars.readEvents` and
  *   `Streams.readEventStreamFrom`.
  * - RocksDB state store: `transformWithState` (`Streams.OrderedFold`, the
  *   streaming recurrences) runs on no other provider, and state stays off
  *   the heap.
  * - `file://` through [[graft.source.LocalFs]]: no shell process per
  *   created file, mkdir or rename.
  * - `hugeMethodLimit=8000`, HotSpot's huge-method limit (the value Spark's
  *   documentation gives): a whole-stage subtree whose largest generated
  *   method is over it runs as per-operator compiled projections instead.
  *   At Spark's default (65535) such a method is kept and the JIT never
  *   compiles it; the feature pipeline's 8,011-byte projection under
  *   `Targets.withTarget` ran interpreted. `CodegenSpec` guards it.
  */
object GraftSession {

  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  def builder(appName: String = "graft", master: Option[String] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      // Window buffers stay on-heap (default spills to an external sorter
      // after 4096 rows/partition; our per-symbol windows are far larger).
      .config("spark.sql.windowExec.buffer.in.memory.threshold", "2097152")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // Reliable checkpoints (Checkpoint.pin on a cluster) must be GC'd
      // once their RDD is unreferenced — the default (false) leaks one
      // durable checkpoint dir PER ROUND of every iterative operator
      // (BPE runs hundreds of rounds) on exactly the long-running cluster
      // sessions the reliable mode targets.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // The SQL-parity surface serves deeply-chained unrolled-iteration
      // statements (graph_* replays); the analyzer's default 100-iteration
      // resolution budget is a LIMIT, not a cost — normal plans still fix-
      // point early, only the deep chains need the headroom.
      .config("spark.sql.analyzer.maxIterations", "1000")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.source.LocalFs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.source.LocalFs.Context].getName)
    master.fold(b)(m => b.master(m))
  }

  def local(appName: String = "graft"): SparkSession = {
    val s = builder(appName, Some(s"local[$cpus]")).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
