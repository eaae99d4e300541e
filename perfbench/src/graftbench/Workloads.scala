package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.features.{Features, Targets}
import graft.ml.{MlPipeline, Scoring}
import graft.source.{Bars, Storage}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** One benchmark workload. `setup` generates the inputs; `step` runs one
  * step of the closed loop and returns the durations of the units it
  * contained (one, except for stream_replay, whose step is a whole replay
  * of many micro-batches); `check` verifies the last step's outputs. */
trait Workload {
  def setup(): Unit
  def step(): Seq[Double]
  /** One untimed warm-up step; the same work as `step` unless a workload
    * warms up on less. */
  def warmStep(): Unit = step()
  def unitsPerStep: Int = 1
  /** Input rows per unit, for rows_per_s. */
  def rowsPerUnit: Double
  def check(): Checks.Failures
  /** Per-layer metrics of modules only this workload runs, reported in its
    * traced runs beside [[Main.PerLayer]]. */
  def extraLayers: Seq[String] = Nil
  /** Untimed warm-up steps before the first timed unit (counted in
    * setup_s). A fixed count, so every run does the same set-up work. */
  def warmSteps: Int
}

object Workload {
  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def dirBytes(dir: String): (Long, Int) = {
    val files = Option(new File(dir).listFiles()).toSeq.flatten.filter(f => f.isFile && f.getName.startsWith("part-"))
    (files.map(_.length).sum, files.size)
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** The workloads BENCHMARK.json lists, in the order the class-loading
    * run uses: stream_replay last, since it switches the session to the
    * RocksDB state store. */
  val Listed = Seq("feature_build", "train_walkforward", "stream_replay")

  /** `small` shrinks the inputs, for the class-loading run only. */
  def make(name: String, spark: SparkSession, seed: Long, work: String, trace: Trace,
      small: Boolean): Workload = name match {
    case "feature_build" => new FeatureBuild(spark, seed, work, trace, small)
    case "train_walkforward" => new TrainWalkforward(spark, seed, work, trace)
    case "query_mix" => new QueryMix(spark, seed, work, trace)
    case "stream_replay" => new StreamReplay(spark, seed, work, trace, small)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

import Workload._

/** ingest → 49 features → target → parquet, on 32 symbols × 3125 bars:
  * 100,000 rows, the size of the sf0.1 events table the engine's own bench
  * reads. */
final class FeatureBuild(spark: SparkSession, seed: Long, work: String, trace: Trace,
    small: Boolean) extends Workload {
  val RowsPerSymbol = if (small) 60 else 3125
  private var events: Seq[Gen.Event] = Nil
  private val in = s"$work/in"
  private var n = 0
  private var lastOut = ""

  def rowsPerUnit: Double = events.size.toDouble
  def warmSteps = 1

  def setup(): Unit = {
    events = Gen.bars(seed, RowsPerSymbol)
    Gen.writeEvents(spark, events, s"$in/events.parquet")
  }

  def step(): Seq[Double] = {
    val out = s"$work/out/features-$n"
    n += 1
    val t = timed {
      val df = trace.span("features.build_s") {
        Targets.withTarget(Features.computeAllFeatures(Bars.bars(spark, in)))
      }
      trace.span("source.save_s")(Storage.save(df, out))
    }
    val (bytes, files) = dirBytes(out)
    trace.add("source.output_mb", bytes / 1e6)
    trace.add("source.files_written", files)
    if (lastOut.nonEmpty) deleteTree(lastOut)
    lastOut = out
    Seq(t)
  }

  def check(): Checks.Failures = {
    val back = Storage.load(spark, lastOut)
    val rng = new java.util.SplittableRandom(seed)
    val symbols = Seq.fill(3)(rng.nextInt(Gen.Symbols)).distinct
    def opt(r: Row, c: String): Option[Double] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getDouble(r.fieldIndex(c)))
    val got = back.filter(col("symbol").isin(symbols.map(_.toString): _*)).collect().toSeq
      .groupBy(_.getAs[String]("symbol").toInt).map { case (s, rows) =>
        s -> rows.map(r => Checks.FeatRow(r.getAs[Long]("event_id"), opt(r, "returns"),
          opt(r, "distance_sma_20"), opt(r, "rsi"), opt(r, "bb_upper"), opt(r, "bb_middle"),
          opt(r, "bb_lower"), r.getAs[Byte]("target").toInt))
      }
    // every symbol loses its last bar, which has no forward return
    Checks.checkFeatures(events, symbols, got, events.size - Gen.Symbols, back.count())
  }
}

/** Expanding-window walk-forward GBT training over pinned features. */
final class TrainWalkforward(spark: SparkSession, seed: Long, work: String, trace: Trace) extends Workload {
  val RowsPerSymbol = 250
  /** Trees per fold: the reference fits 100, which takes a minute or more
    * here; two keep a fold to 6-8 s, at the reference depth (6), step (0.1)
    * and subsampling (0.8). */
  val Trees = 2
  /** Fold cut points as shares of the time span; folds cycle. The window
    * grows by 1% of the span per fold, so any two folds cost about the same
    * and op_p50_s does not depend on how many folds a run reaches. */
  val Cuts = Seq(0.80, 0.81, 0.82, 0.83)
  val MinAuc = 0.6
  private var feats: DataFrame = _
  private var n = 0
  private var trainRows = 0.0
  private var last: (DataFrame, DataFrame, DataFrame, Seq[Long], Map[String, Double]) = _

  def rowsPerUnit: Double = trainRows
  def warmSteps = 1

  def setup(): Unit = {
    val in = s"$work/in"
    Gen.writeEvents(spark, Gen.bars(seed, RowsPerSymbol), s"$in/events.parquet")
    feats = Targets.withTarget(Features.computeAllFeatures(Bars.bars(spark, in))).cache()
    feats.count()
    // labelled rows before each cut (every bar but a symbol's last has a
    // target); the split trains on the first 80% of them
    trainRows = Cuts.map { c =>
      val n = for (s <- 0 until Gen.Symbols; j <- 0 until RowsPerSymbol - 1
        if j * Gen.StepUs + s * 1000L < cutUs(c)) yield 1
      math.floor(0.8 * n.size)
    }.sum / Cuts.size
  }

  private def cutUs(share: Double): Long = (share * RowsPerSymbol * Gen.StepUs).toLong

  private def fold(i: Int): DataFrame =
    feats.filter(unix_micros(col("datetime")) < Gen.BaseUs + cutUs(Cuts(i % Cuts.size)))

  def step(): Seq[Double] = {
    val data = fold(n)
    n += 1
    var res: (DataFrame, DataFrame, DataFrame, Seq[Long], Map[String, Double]) = null
    val t = timed {
      val (train, test) = trace.span("ml.split_s")(MlPipeline.temporalSplit(data))
      val cols = Features.FeatureCols
      val trainSet = trace.span("ml.assemble_s")(MlPipeline.assemble(train, cols))
      val f0 = System.nanoTime()
      val model = trace.span("ml.fit_s")(MlPipeline.classifier(Trees).fit(trainSet))
      trace.add("ml.s_per_tree", (System.nanoTime() - f0) / 1e9 / Trees)
      val metrics = trace.span("ml.evaluate_s")(
        MlPipeline.evaluateClassifier(model.transform(MlPipeline.assemble(test, cols))))
      val scored = trace.span("ml.score_s")(
        Scoring.scoreClassifier(model, test, cols).select("event_id").collect().map(_.getLong(0)).toSeq)
      res = (data, train, test, scored, metrics)
    }
    last = res
    Seq(t)
  }

  def check(): Checks.Failures = {
    val (data, train, test, scored, metrics) = last
    def keys(df: DataFrame) = df.select(unix_micros(col("datetime")), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    Checks.checkSplit(keys(train), keys(test), data.select("event_id").collect().map(_.getLong(0)).toSeq,
      scored, metrics, MinAuc)
  }
}

/** One pass over a fixed set of registry queries, in a seeded order. */
final class QueryMix(spark: SparkSession, seed: Long, work: String, trace: Trace) extends Workload {
  val Queries: Seq[(String, String)] = Seq(
    "graph_pagerank" -> "graph", "graph_hits" -> "graph", "graph_components" -> "graph",
    "graph_linkpred" -> "graph", "dedup_minhash_pairs" -> "dedup", "dedup_fuzzy" -> "dedup",
    "sim_ann_recall" -> "sim", "text_stats" -> "text", "join_star" -> "relational",
    "window_cusum" -> "window")
  private val dir = s"$work/tables"
  private var tables: Gen.Tables = _
  private val order = new scala.util.Random(seed).shuffle(Queries)
  private var results = Map.empty[String, Array[Row]]
  private var rows = 0.0

  def rowsPerUnit: Double = rows
  def warmSteps = 1
  override def extraLayers: Seq[String] = Queries.map(_._2).distinct.map(f => s"$f.query_s")

  def setup(): Unit = {
    tables = Gen.queryTables(spark, seed, dir)
    rows = Seq("lineitem", "orders", "customer", "part", "supplier", "documents", "embeddings", "events")
      .map(t => spark.read.parquet(s"$dir/$t.parquet").count()).sum.toDouble
  }

  def step(): Seq[Double] = {
    var out = Map.empty[String, Array[Row]]
    val t = timed {
      order.foreach { case (q, family) =>
        out += q -> trace.span(s"$family.query_s")(SparkEntry.queries(q)(spark, dir).collect())
      }
    }
    results = out
    Seq(t)
  }

  def check(): Checks.Failures = {
    import graft.sim.Similarity
    val empty = Queries.map(_._1).filter(q => results(q).isEmpty).map(q => s"$q: no rows")
    val pr = results("graph_pagerank").map(r => r.getString(0) -> r.getDouble(1)).toMap
    val cc = results("graph_components").map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val mh = results("dedup_minhash_pairs").map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val ann = Seq("ivf" -> Similarity.ivfTopK(emb, k = 3), "lsh" -> Similarity.lshTopK(emb, k = 3),
      "pq" -> Similarity.ivfPqTopK(emb, k = 3)).flatMap { case (m, df) =>
      df.select("probe_id", "neighbor_id").collect().map(r => (m, r.getLong(0)) -> r.getLong(1))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    val recall = results("sim_ann_recall").map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    empty ++ Checks.checkPagerank(tables.lineitem, pr) ++ Checks.checkComponents(tables.lineitem, cc) ++
      Checks.checkMinhash(tables.docs, mh) ++ Checks.checkAnn(tables.embeddings, ann, recall)
  }
}

/** Replays staged event files through the dedup → RSI pipeline and a
  * watermarked tumbling count, one file per micro-batch, AvailableNow. */
final class StreamReplay(spark: SparkSession, seed: Long, work: String, trace: Trace,
    small: Boolean) extends Workload {
  val NFiles = if (small) 3 else 4
  /** The warm-up replay reads the first three files only: enough to run
    * every operator once the watermark is in force, at half the cost. */
  val WarmFiles = 3
  val RedeliveredPerFile = 40
  val LatePerFile = 20
  private val src = s"$work/stream/src"
  private val warmSrc = s"$work/stream/warm"
  private var st: Gen.Stream = _
  private var n = 0
  private var last: (Seq[(String, Long, Option[Double])], Seq[Long], Seq[(Long, String, Long, Double)]) = _

  override def unitsPerStep: Int = NFiles
  def warmSteps = 1
  def rowsPerUnit: Double = st.files.map(_.size).sum.toDouble / NFiles

  def setup(): Unit = {
    st = Gen.stream(seed, NFiles, RedeliveredPerFile, LatePerFile)
    val rows = st.files.zipWithIndex.flatMap { case (f, k) => f.map(e => (k, e)) }
    val tmp = s"$work/stream/staging"
    // one parquet file per micro-batch, ordered by modification time
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (k, e) =>
      Row(k, e.eventId, e.tsUs, e.userId, e.eventType, e.value, e.props) }, 1),
      org.apache.spark.sql.types.StructType.fromDDL("f INT, " + Gen.EventSchema.toDDL))
      .select(col("f"), col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    df.write.partitionBy("f").parquet(tmp)
    new File(src).mkdirs()
    new File(warmSrc).mkdirs()
    (0 until NFiles).foreach { k =>
      val part = new File(s"$tmp/f=$k").listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new File(f"$src/events-$k%03d.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + k * 10000L)
      if (k < WarmFiles) {
        val warm = new File(f"$warmSrc/events-$k%03d.parquet")
        Files.copy(dst.toPath, warm.toPath)
        warm.setLastModified(dst.lastModified)
      }
    }
    deleteTree(tmp)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }

  private def run(name: String, df: DataFrame, ckpt: String): StreamingQuery = {
    val q = df.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  override def warmStep(): Unit = replay(warmSrc, WarmFiles)

  def step(): Seq[Double] = replay(src, NFiles)

  private def replay(dir: String, files: Int): Seq[Double] = {
    val i = n
    n += 1
    val ck = s"$work/stream/ckpt-$i"
    val ticks = Streams.tickStream(Streams.readEventStreamFrom(spark, dir, Some(1))).toDF()
    val a = run(s"rsi_$i", Streams.pipelineDedupRsi(ticks), s"$ck/a")
    val b = run(s"tc_$i", Streams.tumblingCounts(Streams.readEventStreamFrom(spark, dir, Some(1))), s"$ck/b")
    def batches(q: StreamingQuery) = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId).toSeq
    val (pa, pb) = (batches(a), batches(b))
    require(pa.size == files && pb.size == files,
      s"expected $files micro-batches per query, got ${pa.size} and ${pb.size}")
    (pa ++ pb).foreach { p =>
      def ms(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
      trace.add("stream.add_batch_s", ms("addBatch"))
      trace.add("stream.latest_offset_s", ms("latestOffset"))
      trace.add("stream.query_planning_s", ms("queryPlanning"))
      trace.add("stream.wal_commit_s", ms("walCommit"))
      p.stateOperators.foreach { s =>
        trace.add("stream.state_rows", s.numRowsTotal)
        trace.add("stream.state_mb", s.memoryUsedBytes / 1e6)
      }
    }
    def dropped(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
      ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    val allA = a.recentProgress.toSeq
    trace.add("stream.dropped_by_watermark", dropped(allA))
    // the units are over; what follows gathers outputs for the check
    trace.end()
    val rsi = spark.table(s"rsi_$i").collect().map(r =>
      (r.getString(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    val counts = spark.table(s"tc_$i").select(unix_micros(col("w_start")), col("event_type"), col("n"),
      col("value_sum")).collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    spark.catalog.dropTempView(s"rsi_$i")
    spark.catalog.dropTempView(s"tc_$i")
    deleteTree(ck)
    // the tumbling count drops late rows after partial aggregation, so its
    // dropped count is of window groups, not rows; only the dedup's is checked
    last = (rsi, Seq(dropped(allA)), counts)
    pa.zip(pb).map { case (x, y) =>
      (x.durationMs.get("triggerExecution").doubleValue + y.durationMs.get("triggerExecution").doubleValue) / 1e3
    }
  }

  def check(): Checks.Failures = Checks.checkStream(st, last._1, last._2, last._3)
}
