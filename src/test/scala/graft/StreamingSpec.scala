package graft

import graft.analytics.{Relational, TimeWindows}
import graft.features.{Features, Market}
import graft.source.Bars
import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming parity: the streaming transforms must agree with
  * their batch twins when the whole file is replayed (Trigger.AvailableNow →
  * memory sink, complete/update modes). */
class StreamingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Stage the events as 3 time-ordered parquet files with increasing
    * mtimes so the file source replays them as 3 separate micro-batches;
    * cached per source file + mtime so regenerated fixtures invalidate. */
  private def timeSplitDir(): java.nio.file.Path = {
    val srcFile = java.nio.file.Paths.get(dir, "events.parquet")
    val cacheKey = Integer.toHexString(
      (srcFile.toString + java.nio.file.Files.getLastModifiedTime(srcFile)).hashCode)
    val splitDir = java.nio.file.Paths.get("/tmp", s"graft-stream-split-$cacheKey")
    if (!java.nio.file.Files.exists(splitDir.resolve("2.parquet"))) {
      java.nio.file.Files.createDirectories(splitDir)
      val raw = spark.read.parquet(s"$dir/events.parquet") // ts stays as stored (NTZ)
        .orderBy("ts", "event_id").collect()
      val schema = spark.read.parquet(s"$dir/events.parquet").schema
      val thirds = raw.grouped((raw.length + 2) / 3).toSeq
      thirds.zipWithIndex.foreach { case (rows, i) =>
        val part = spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq, 1), schema)
        val tmp = s"$splitDir/stage_$i"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        val f = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val target = splitDir.resolve(s"$i.parquet")
        java.nio.file.Files.move(f.toPath, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        target.toFile.setLastModified(1000000L * (i + 1))
      }
    }
    splitDir
  }

  private val pb = Seq(col("symbol"))
  private val ob = Seq(col("datetime"), col("event_id"))

  /** `got` and the unrounded batch `want` hold the same event_ids, and on
    * each (got, want) column pair agree row for row: same null-ness, the
    * same raw bits for doubles, the same value otherwise. */
  private def assertSameBits(got: DataFrame, want: DataFrame,
      pairs: (String, String)*): Unit = {
    val n = want.count()
    assert(got.count() == n, s"row sets differ: ${got.count()} vs $n")
    val joined = got.as("g").join(want.as("w"), Seq("event_id"))
      .select(col("event_id") +: pairs.flatMap { case (g, w) =>
        Seq(col(s"g.$g"), col(s"w.$w")) }: _*)
      .collect()
    assert(joined.length == n, s"event_id sets differ: ${joined.length} of $n joined")
    def same(a: Any, b: Any) = (a, b) match {
      case (x: java.lang.Double, y: java.lang.Double) =>
        java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
      case _ => a == b
    }
    joined.foreach { r =>
      pairs.indices.foreach { i =>
        assert(same(r.get(1 + 2 * i), r.get(2 + 2 * i)),
          s"${pairs(i)._1} mismatch at ${r.get(0)}: ${r.get(1 + 2 * i)} vs ${r.get(2 + 2 * i)}")
      }
    }
  }

  /** `got` (event_id, rsi) equals the batch RSI column row for row, down
    * to the raw bits of every double. */
  private def assertRsiBits(got: DataFrame): Unit = {
    assert(got.count() == 1000)
    assertSameBits(got, Features.computeAllFeatures(Bars.bars(spark, dir))
      .select("event_id", "rsi"), "rsi" -> "rsi")
  }

  /** `got` (a [[Streams.streamingBurst]] output) equals the unrounded
    * batch [[graft.expr.Burst2]] recursion (events_burst's) on its
    * non-null rows: each user's first event is NULL there and absent
    * from the stream. */
  private def assertBurstMatchesBatch(got: DataFrame): Unit = {
    val ev = Bars.readEvents(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("_tus"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val b = graft.expr.Burst2.burst2Over(col("_x"), col("lam"),
      Params.BurstRateRatio, Params.BurstGamma,
      Seq(col("user_id")), Seq(col("ts"), col("event_id")))
    val want = ev.join(Streams.burstRates(ev), "user_id")
      .withColumn("_x", (col("_tus") - lag(col("_tus"), 1).over(w))
        .cast("double"))
      .select(col("event_id"), b.as("_b"))
      .filter(col("_b.cost0").isNotNull)
      .select(col("event_id"), col("_b.cost0").as("cost0"),
        col("_b.cost1").as("cost1"),
        (col("_b.cost1") < col("_b.cost0")).as("burst"))
    assertSameBits(got, want, "cost0" -> "cost0", "cost1" -> "cost1",
      "burst" -> "burst")
  }

  /** `got` (a [[Streams.streamingHolt]] output) equals the unrounded
    * batch [[graft.expr.Holt]] recursion (window_holt's) row for row. */
  private def assertHoltMatchesBatch(got: DataFrame): Unit = {
    val want = Bars.bars(spark, dir)
      .select(col("event_id"), graft.expr.Holt.holtOver(col("close"),
        Params.HoltAlpha, Params.HoltBeta, pb, ob).as("_h"))
      .select(col("event_id"), col("_h.level").as("level"),
        col("_h.trend").as("trend"))
    assertSameBits(got, want, "level" -> "level", "trend" -> "trend")
  }


  test("streaming tumbling window counts equal the batch window aggregation") {
    val stream = Streams.tumblingCounts(Streams.readEventStream(spark, dir))
    val q = stream.writeStream.format("memory").queryName("stream_tumbling")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stream_tumbling")
    val want = TimeWindows.tumbling(graft.source.Bars.readEvents(spark, dir))
    assert(got.count() == want.count())
    val gSum = got.agg(sum("n")).collect()(0).getLong(0)
    val wSum = want.agg(sum("n")).collect()(0).getLong(0)
    assert(gSum == wSum && gSum == 1000)
    // spot-check one bucket
    val g = got.orderBy("w_start", "event_type").limit(3).collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val w = want.orderBy("w_start", "event_type").limit(3).collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    assert(g.sameElements(w))
  }

  test("streaming HLL registers equal the batch sketch register for register") {
    import graft.analytics.Sketches
    val stream = Streams.hllDailyRegisters(Streams.readEventStream(spark, dir))
    val q = stream.writeStream.format("memory").queryName("stream_hll")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stream_hll")
    val ev = graft.source.Bars.readEvents(spark, dir)
      .withColumn("day", to_date(col("ts")))
    val want = Sketches.hllRegisters(ev, col("user_id"), Seq("day"))
    assert(got.count() == want.count(), "register row counts diverge")
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "maintained registers must be bit-identical to the batch sketch")
    // and the estimate built FROM the streamed registers matches the batch
    // estimate exactly (register-identical => estimate-identical)
    val gEst = Sketches.hllEstimate(got, Seq("day")).orderBy("day")
      .collect().map(r => (r.getDate(0).toString, r.getDouble(1)))
    val wEst = Sketches.hllEstimate(want, Seq("day")).orderBy("day")
      .collect().map(r => (r.getDate(0).toString, r.getDouble(1)))
    assert(gEst.sameElements(wEst))
  }

  test("streaming quantile-sketch buckets equal the batch sketch, merged estimates identical") {
    import graft.analytics.Sketches
    val stream = Streams.qsketchDailyBuckets(Streams.readEventStream(spark, dir))
    val q = stream.writeStream.format("memory").queryName("stream_qsketch")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stream_qsketch")
    val ev = graft.source.Bars.readEvents(spark, dir)
      .withColumn("day", to_date(col("ts")).cast("string"))
    val want = Sketches.qsketchCounts(ev, col("value"), Seq("day"))
      .select(col("day").cast("date").as("day"), col("bucket"), col("cnt"))
    assert(got.count() == want.count(), "bucket row counts diverge")
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "maintained buckets must be bit-identical to the batch sketch")
    // merge the streamed daily sketches into ONE corpus sketch and compare
    // estimates against the batch sketch of the whole corpus — the
    // union-of-sketches == sketch-of-the-union contract, end to end
    def corpus(buckets: org.apache.spark.sql.DataFrame) =
      Sketches.qsketchQuantiles(
        buckets.groupBy("bucket").agg(sum(col("cnt")).as("cnt"))
          .select(lit("all").as("g"), col("bucket"), col("cnt")),
        Seq("g"), Seq(0.5, 0.9, 0.99))
        .orderBy("q").collect().map(r => (r.getDouble(1), r.getDouble(3)))
    val direct = Sketches.qsketchQuantiles(
      Sketches.qsketchCounts(ev.withColumn("g", lit("all")), col("value"), Seq("g")),
      Seq("g"), Seq(0.5, 0.9, 0.99))
      .orderBy("q").collect().map(r => (r.getDouble(1), r.getDouble(3)))
    assert(corpus(got).sameElements(direct),
      "estimates from merged streamed sketches diverge from the direct batch sketch")
  }

  test("streaming sliding window counts equal the batch sliding aggregation") {
    val stream = Streams.slidingCounts(Streams.readEventStream(spark, dir))
    val q = stream.writeStream.format("memory").queryName("stream_sliding")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stream_sliding")
    val want = TimeWindows.sliding(graft.source.Bars.readEvents(spark, dir))
    assert(got.count() == want.count())
    val gSum = got.agg(sum("n")).collect()(0).getLong(0)
    val wSum = want.agg(sum("n")).collect()(0).getLong(0)
    assert(gSum == wSum, s"event-window memberships diverge: $gSum vs $wSum")
  }

  test("streaming dedup removes a fully duplicated source within the watermark") {
    val stream = Streams.dedupEvents(
      Streams.readEventStream(spark, dir, copies = 2))
    val q = stream.writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stream_dedup")
    assert(got.count() == 1000, s"expected 1000 distinct events, got ${got.count()}")
    assert(got.select("event_id").distinct().count() == 1000)
  }

  test("streaming RSI equals the batch RSI row for row") {
    val stream = Streams.streamingRsi(
      Streams.tickStream(Streams.readEventStream(spark, dir)))
    val q = stream.writeStream.format("memory").queryName("stream_rsi")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stream_rsi")
    assert(got.count() == 1000)
    assertRsiBits(got)
  }

  test("streaming CUSUM equals the batch window_cusum bit-for-bit") {
    val stream = Streams.streamingCusum(
      Streams.tickStream(Streams.readEventStream(spark, dir)))
    val q = stream.writeStream.format("memory").queryName("stream_cusum")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stream_cusum")
    // batch side UNROUNDED: window_cusum's expressions without its r6
    val prev = lag(col("close"), 1).over(graft.features.Frames.bySymbol)
    val want = Bars.bars(spark, dir)
      .select(col("symbol"), col("event_id"), col("datetime"),
        (col("close") - prev).as("ret"))
      .filter(col("ret").isNotNull)
      .select(col("event_id"),
        graft.expr.Cusum.cusumOver(col("ret"), Params.CusumDrift, pb, ob)
          .as("su"),
        graft.expr.Cusum.cusumOver(-col("ret"), Params.CusumDrift, pb, ob)
          .as("sd"))
      .select(col("*"), (col("su") > Params.CusumThreshold).as("au"),
        (col("sd") > Params.CusumThreshold).as("ad"))
    assertSameBits(got, want, "cusum_up" -> "su", "cusum_down" -> "sd",
      "alarm_up" -> "au", "alarm_down" -> "ad")
  }

  test("streaming burst detection equals the batch events_burst bit-for-bit") {
    val rates = Streams.burstRates(graft.source.Bars.readEvents(spark, dir))
      .localCheckpoint() // static side of the stream-static join
    val stream = Streams.streamingBurst(
      Streams.readEventStream(spark, dir), rates)
    val q = stream.writeStream.format("memory").queryName("stream_burst")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assertBurstMatchesBatch(spark.table("stream_burst"))
  }

  test("streaming Holt equals the batch window_holt bit-for-bit") {
    val stream = Streams.streamingHolt(
      Streams.tickStream(Streams.readEventStream(spark, dir)))
    val q = stream.writeStream.format("memory").queryName("stream_holt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assertHoltMatchesBatch(spark.table("stream_holt"))
  }

  test("streaming Holt after the watermark dedup, in one query over a duplicated source, equals the batch window_holt") {
    // transformWithState composes after dropDuplicatesWithinWatermark; the
    // second copy of every event must be gone before the fold sees it
    val stream = Streams.streamingHolt(Streams.tickStream(
      Streams.dedupEvents(Streams.readEventStream(spark, dir, copies = 2))))
    val q = stream.writeStream.format("memory").queryName("stream_dedup_holt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(q.lastProgress.stateOperators.length == 2,
      "expected the dedup and the fold as two stateful operators")
    assertHoltMatchesBatch(spark.table("stream_dedup_holt"))
  }

  test("streaming supertrend equals the batch feat_supertrend row for row") {
    val stream = Streams.streamingSupertrend(
      Streams.tickStream(Streams.readEventStream(spark, dir)))
    val q = stream.writeStream.format("memory").queryName("stream_st")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stream_st")
    // batch side UNROUNDED: feat_supertrend's columns without its r6
    assertSameBits(got, Market.withSupertrend(Bars.bars(spark, dir)),
      "supertrend" -> "supertrend", "st_trend" -> "st_trend")
  }

  test("streaming PSAR equals the batch feat_psar row for row") {
    val stream = Streams.streamingPsar(
      Streams.tickStream(Streams.readEventStream(spark, dir)))
    val q = stream.writeStream.format("memory").queryName("stream_psar")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stream_psar")
    assertSameBits(got, Market.withPsar(Bars.bars(spark, dir)),
      "psar" -> "psar", "psar_trend" -> "psar_trend")
  }

  test("streaming RSI and burst state carries across micro-batches (time-split files)") {
    val splitDir = timeSplitDir()
    def replay(name: String, stream: org.apache.spark.sql.Dataset[_]) = {
      val q = stream.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(180000)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        s"$name: expected >= 3 non-empty micro-batches")
      spark.table(name)
    }
    def events() = Streams.readEventStreamFrom(spark, splitDir.toString, Some(1))
    // RSI: String-keyed, emits every row
    assertRsiBits(replay("stream_rsi_mb", Streams.streamingRsi(Streams.tickStream(events()))))
    // burst: Long-keyed, a user's first event emits nothing
    val rates = Streams.burstRates(graft.source.Bars.readEvents(spark, dir))
      .localCheckpoint()
    assertBurstMatchesBatch(replay("stream_burst_mb", Streams.streamingBurst(events(), rates)))
  }

  test("left-outer stream-stream join emits unmatched purchases with null error_id on watermark expiry") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-ssoj-").toString
    def write(name: String, rows: Seq[(Long, String, Long, String, Double)]): Unit =
      rows.toDF("event_id", "_ts", "user_id", "event_type", "value")
        .withColumn("ts", to_timestamp(col("_ts"))).drop("_ts")
        .coalesce(1).write.parquet(s"$base/$name")
    val d = "2024-01-01"
    // file 0: user 1's purchase has an error 30 min before (match);
    // user 2 has no error at all; user 3's error is 1.5 h stale (no match)
    write("f0", Seq(
      (101L, s"$d 01:00:00", 1L, "error", 0.0),
      (201L, s"$d 01:30:00", 1L, "purchase", 1.0),
      (202L, s"$d 01:30:00", 2L, "purchase", 1.0),
      (103L, s"$d 00:00:00", 3L, "error", 0.0),
      (203L, s"$d 01:30:00", 3L, "purchase", 1.0)))
    // file 1 advances BOTH side watermarks past file 0's match windows
    // (global watermark = min over sides); its own purchase may itself
    // flush only if a final no-data batch runs — excluded from the asserts
    write("f1", Seq(
      (901L, s"$d 10:00:00", 9L, "purchase", 1.0),
      (902L, s"$d 10:00:00", 8L, "error", 0.0)))
    // file 2 exists because outer expiry uses the PREVIOUS batch's
    // watermark — a third batch is what flushes file 0's unmatched rows
    write("f2", Seq(
      (903L, s"$d 20:00:00", 7L, "purchase", 1.0),
      (904L, s"$d 20:00:00", 6L, "error", 0.0)))
    val stream = Streams.purchaseErrorJoinOuter(
      Streams.readEventStreamFrom(spark, s"$base/*", maxFilesPerTrigger = Some(1)))
    val q = stream.writeStream.format("memory").queryName("stream_ssoj")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stream_ssoj").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long])))
    val matched = got.filter(_._3.isDefined).toSet
    val nulls = got.filter(_._3.isEmpty).map(t => (t._1, t._2)).toSet
    assert(matched == Set((1L, 201L, Some(101L))),
      s"inner matches must be exactly user 1's pair, got $matched")
    assert(nulls.contains((2L, 202L)) && nulls.contains((3L, 203L)),
      s"unmatched purchases 202 (no error) and 203 (stale error) must flush, got $nulls")
    // no purchase may leak a false match, and late-batch rows whose
    // watermark never passed must not have flushed as matched
    assert(nulls.subsetOf(Set((2L, 202L), (3L, 203L), (9L, 901L), (7L, 903L))),
      s"unexpected outer rows: $nulls")
  }

  test("stream-stream interval join matches the batch join pair-for-pair") {
    val stream = Streams.purchaseErrorJoin(Streams.readEventStream(spark, dir))
    val q = stream.writeStream.format("memory").queryName("stream_ssjoin")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stream_ssjoin")
    val ev = graft.source.Bars.readEvents(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"), col("ts").as("e_ts"))
    val want = p.join(e,
      col("user_id") === col("e_user") &&
      col("e_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
      col("e_ts") <= col("p_ts"))
      .select(col("user_id"), col("purchase_id"), col("error_id"))
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("stream-static broadcast enrichment matches the batch join row-for-row") {
    val dim = Streams.sectorDim(spark)
    val stream = Streams.enrichEvents(Streams.readEventStream(spark, dir), dim)
    val q = stream.writeStream.format("memory").queryName("stream_enrich")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stream_enrich")
    val want = Streams.enrichEvents(graft.source.Bars.readEvents(spark, dir), dim)
    assert(got.count() == 1000, s"expected 1000 enriched events, got ${got.count()}")
    assert(got.filter(col("sector").isNull).count() == 0,
      "dimension covers every symbol — no enrichment may miss")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "stream-static and batch enrichment rows diverge")
    // the static side must be broadcast — an exchange on the stream side
    // would shuffle the unbounded input every micro-batch
    val plan = want.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast hash join, got:\n$plan")
  }

  test("streaming drift monitor scores micro-batches like the batch driftPsi") {
    val base = java.nio.file.Files.createTempDirectory("graft-drift-").toString
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    val events = graft.source.Bars.readEvents(spark, dir)
    // reference = even event_ids (driftPsi's base slice), materialized once
    val ref = Streams.referenceRates(events.filter(col("event_id") % 2 === 0))
      .localCheckpoint()
    // stream the current slice (odd event_ids) through the monitor
    val q = Streams.driftMonitor(
      Streams.readEventStream(spark, dir).filter(col("event_id") % 2 === 1),
      ref, out, ckpt)
    q.awaitTermination(120000)
    val got = spark.read.parquet(out)
    // one AvailableNow replay = one micro-batch = one row per event_type
    assert(got.select("_batch_id").distinct().count() == 1)
    // identical slices + identical arithmetic => the batch driftPsi values
    val want = graft.queries.Analytics.driftPsi(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
    val gotRows = got.collect()
    assert(gotRows.length == want.size, "per-type monitor rows missing")
    gotRows.foreach { r =>
      val (psi, nc, ns) = want(r.getAs[String]("event_type"))
      // driftPsi's output is r6-rounded (floor form, 1e-6); the monitor
      // emits the raw sum — equality holds to the rounding granularity
      assert(math.abs(r.getAs[Double]("psi") - psi) < 1e-6,
        s"${r.getAs[String]("event_type")}: monitor PSI diverges from batch")
      assert(r.getAs[Long]("n_bins_common") == nc &&
        r.getAs[Long]("n_bins_one_sided") == ns)
    }
  }

  test("foreachBatch parquet sink is exactly-once across a checkpoint restart") {
    val base = java.nio.file.Files.createTempDirectory("graft-sink-").toString
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    def run(): Unit = {
      val q = Streams.sinkParquet(
        Streams.readEventStream(spark, dir).select("event_id", "ts", "value"),
        out, ckpt)
      q.awaitTermination(120000)
    }
    run()
    val first = spark.read.parquet(out)
    assert(first.count() == 1000, s"expected 1000 sunk rows, got ${first.count()}")
    assert(first.select("event_id").distinct().count() == 1000)
    // restart from the SAME checkpoint over the SAME input: AvailableNow
    // finds nothing new, and even a re-delivered batch would overwrite its
    // own _batch_id partition rather than append — zero duplication
    run()
    val second = spark.read.parquet(out)
    assert(second.count() == 1000,
      s"sink duplicated rows across restart: ${second.count()}")
    assert(second.select("event_id").distinct().count() == 1000)
  }

  test("late-data monitor: planted late rows counted as accepted vs dropped, restart-idempotent") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-late-").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    def writeFile(name: String, rows: Seq[(Long, java.sql.Timestamp)], mtime: Long): Unit = {
      val tmp = s"$base/tmp_$name"
      rows.map { case (id, t) => (id, t, id % 7, "view", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      val dest = java.nio.file.Paths.get(in, name)
      java.nio.file.Files.move(part, dest)
      dest.toFile.setLastModified(mtime)
      ()
    }
    // batch 0: in-order history up to 10:30 (first batch: everything on-time)
    writeFile("f0.parquet", Seq(
      1L -> ts("2024-01-01 10:00:00"), 2L -> ts("2024-01-01 10:10:00"),
      3L -> ts("2024-01-01 10:30:00")), mtime = 1000000L)
    // batch 1 vs watermark 09:30 (= 10:30 − 1h): one on-time row, two
    // late-but-accepted (incl. the exact watermark boundary), one dropped
    writeFile("f1.parquet", Seq(
      4L -> ts("2024-01-01 10:40:00"), 5L -> ts("2024-01-01 10:00:00"),
      6L -> ts("2024-01-01 09:30:00"), 7L -> ts("2024-01-01 08:00:00")),
      mtime = 2000000L)
    def run(): Unit =
      Streams.lateDataMonitor(
        Streams.readEventStreamFrom(spark, in, maxFilesPerTrigger = Some(1)),
        out, ckpt).awaitTermination(120000)
    run()
    val got = spark.read.parquet(out)
      .select(col("_batch_id").cast("long"), col("n_rows"), col("n_on_time"),
        col("n_late_accepted"), col("n_late_dropped"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(got.length == 2, s"expected 2 micro-batches, got ${got.toSeq}")
    assert(got(0) == ((0L, 3L, 3L, 0L, 0L)), s"batch 0: ${got(0)}")
    assert(got(1) == ((1L, 4L, 1L, 2L, 1L)), s"batch 1: ${got(1)}")
    // restart from the same checkpoint: nothing new, counts unchanged
    run()
    val again = spark.read.parquet(out)
    assert(again.count() == 2, "restart duplicated monitor rows")
    assert(again.agg(sum("n_late_dropped")).head().getLong(0) == 1L)
  }

  test("streaming CDC upsert sink converges to the batch merge state") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-cdc-").toString
    val in = s"$base/in"; val table = s"$base/table"; val ckpt = s"$base/ckpt"
    // CDC batch 1: keys 0..99 at v1; CDC batch 2: keys 50..149 at v2
    (0L until 100L).map(k => (k, k.toDouble, 1L)).toDF("k", "v", "version")
      .coalesce(1).write.parquet(s"$in/b=1")
    (50L until 150L).map(k => (k, k + 1000.0, 2L)).toDF("k", "v", "version")
      .coalesce(1).write.parquet(s"$in/b=2")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v DOUBLE, version BIGINT")
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)   // force two separate micro-batches
        .option("recursiveFileLookup", "true").parquet(in)
      Streams.sinkUpsert(stream, table, ckpt, Seq("k"), "version")
        .awaitTermination(120000)
    }
    run()
    def state() = spark.read.parquet(table)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val want = (0L until 50L).map(k => (k, k.toDouble)) ++
      (50L until 150L).map(k => (k, k + 1000.0))
    assert(state() == want, "merged table diverges from the batch merge")
    // restart over the same checkpoint: nothing new, state unchanged — and a
    // redelivered batch would re-merge to the identical versions anyway
    run()
    assert(state() == want, "restart perturbed the merged state")
  }

  test("stateful streaming sessionization matches batch session counts") {
    val stream = Streams.sessionCounts(Streams.readEventStream(spark, dir))
    val q = stream.writeStream.format("memory").queryName("stream_sessions")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // latest state per user (update mode may emit once per micro-batch)
    val got = spark.table("stream_sessions")
      .groupBy("user_id").agg(max("n_sessions").as("n_sessions"), max("n_events").as("n_events"))
    val want = Relational.sessionize(graft.source.Bars.readEvents(spark, dir))
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
    val joined = got.as("g").join(want.as("w"), Seq("user_id"))
      .filter(col("g.n_sessions") =!= col("w.n_sessions") ||
        col("g.n_events") =!= col("w.n_events"))
    assert(got.count() == want.count())
    assert(joined.count() == 0, "streaming and batch session counts diverge")
  }

  test("streaming sessionize emits each closed batch session exactly once, incl. watermark-expiry flush") {
    val splitDir = timeSplitDir()
    val stream = Streams.streamingSessionize(
      Streams.readEventStreamFrom(spark, splitDir.toString, Some(1)))
    val q = stream.writeStream.format("memory").queryName("stream_sessionize")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "expected >= 3 non-empty micro-batches")
    val gapUs = 30L * 60L * 1000000L
    val delayMs = 3600000L // streamingSessionize's default 1 h watermark
    // the expected emission set, from the batch twin: a session is emitted
    // exactly when the watermark REACHES its flush instant
    // floorDiv(end + gap, 1000) + 1 (admissible events have ts_ms ≥ wm,
    // extension needs ts_ms ≤ flush−1, so at wm = flush the span is
    // final) — nothing is emitted eagerly (a within-watermark straggler
    // may still extend or bridge an unflushed span), so the gate is the
    // FINAL watermark for every session.
    val batch = Relational.sessionize(graft.source.Bars.readEvents(spark, dir))
      .withColumn("_end_us", unix_micros(col("session_end")))
      .withColumn("_last_idx",
        max(col("session_idx")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
    // AvailableNow runs a final no-data micro-batch after the last file,
    // so timeouts are evaluated one last time against the FINAL watermark
    // (max event time over the whole replay − delay)
    val maxUsAll = spark.read.parquet(s"$dir/events.parquet")
      .agg(max(unix_micros(col("ts").cast("timestamp")))).head().getLong(0)
    val wmFinalMs = Math.floorDiv(maxUsAll, 1000L) - delayMs
    val cols = Seq("user_id", "session_idx", "n_events",
      "session_start", "session_end")
    val want = batch.filter(
      (floor((col("_end_us") + lit(gapUs)) / 1000L) + 1L) <= lit(wmFinalMs))
      .select(cols.map(col): _*)
    val got = spark.table("stream_sessionize").select(cols.map(col): _*)
    assert(got.count() > 0, "no sessions emitted")
    // at least one session must have flushed by TIMEOUT (a user-last
    // session with no successor event) — the expiry path under test
    val timeoutFlushed = got.join(
      batch.filter(col("session_idx") === col("_last_idx"))
        .select("user_id", "session_idx"),
      Seq("user_id", "session_idx"))
    assert(timeoutFlushed.count() > 0, "no watermark-expiry session flush observed")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      s"streaming sessions diverge from the batch twin: got ${got.count()} want ${want.count()}")
  }

  test("streaming sessionize stays batch-exact under cross-batch out-of-order arrivals") {
    // The watermark ADMITS cross-batch disorder (an event up to 1 h older
    // than the max seen so far), so the state design must absorb three
    // legal straggler shapes the per-batch sort cannot: an event inside an
    // open span (must not move session_end backward), an event that
    // BRIDGES two spans into one batch session, and a span that must not
    // flush until the watermark passes end + gap. Three mtime-ordered
    // files force the batch boundaries.
    val dirp = java.nio.file.Files.createTempDirectory("graft-sess-disorder-")
    val baseUs = 1704067200000000L // 2024-01-01 00:00:00 UTC
    def us(min: Long) = baseUs + min * 60L * 1000000L
    def ts(min: Long) = new java.sql.Timestamp(us(min) / 1000L)
    import spark.implicits._
    val files: Seq[Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]] = Seq(
      // u1: open span [0, 10]; u2: two spans [0] and [50] (gap 50 > 30)
      Seq((1L, ts(0), 1L, "click", 1.0, "{}"), (2L, ts(10), 1L, "click", 1.0, "{}"),
        (3L, ts(0), 2L, "click", 1.0, "{}"), (4L, ts(50), 2L, "click", 1.0, "{}")),
      // u1 t=5 sits INSIDE [0, 10] (old design moved end back to 5);
      // u1 t=180 opens a second span; u2 t=25 BRIDGES [0] and [50]
      // (old design had already emitted [0] eagerly)
      Seq((5L, ts(5), 1L, "click", 1.0, "{}"), (6L, ts(180), 1L, "click", 1.0, "{}"),
        (7L, ts(25), 2L, "click", 1.0, "{}")),
      // watermark advance: final wm = 360 − 60 = 300 min
      Seq((8L, ts(360), 1L, "click", 1.0, "{}"), (9L, ts(360), 2L, "click", 1.0, "{}")))
    files.zipWithIndex.foreach { case (rs, i) =>
      val df = rs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val tmp = s"$dirp/stage_$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val tgt = dirp.resolve(s"$i.parquet")
      java.nio.file.Files.move(f.toPath, tgt,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tgt.toFile.setLastModified(1000000L * (i + 1))
    }
    val stream = Streams.streamingSessionize(
      Streams.readEventStreamFrom(spark, dirp.toString, Some(1)))
    val q = stream.writeStream.format("memory").queryName("stream_sess_disorder")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stream_sess_disorder")
      .select("user_id", "session_idx", "n_events", "session_start", "session_end")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3).getTime, r.getTimestamp(4).getTime)).sortBy(t => (t._1, t._2)).toSeq
    val ms = (min: Long) => us(min) / 1000L
    // batch twin over ALL events: u1 [0,10] n3 / [180] / [360]; u2
    // [0,50] n3 (bridged) / [360]. Final watermark 300 min flushes
    // everything ending at or before 300 − 30 min.
    val want = Seq(
      (1L, 1L, 3L, ms(0), ms(10)),   // straggler absorbed, end NOT moved back
      (1L, 2L, 1L, ms(180), ms(180)),
      (2L, 1L, 3L, ms(0), ms(50)))   // bridged into one batch session
    assert(got == want,
      s"cross-batch disorder diverges from the batch twin:\n got=$got\nwant=$want")
  }

  test("sessionCounts drops beyond-watermark stragglers instead of re-opening folded spans") {
    // NoTimeout means Spark does NOT pre-drop late rows for this operator
    // (only EventTimeTimeout gets the input-side filter), so the hand
    // filter inside the group function is the only thing standing between
    // a too-late straggler and a phantom session: the span it belongs to
    // was already folded into the counters, and re-merging it would
    // over-count n_sessions and n_events.
    val dirp = java.nio.file.Files.createTempDirectory("graft-sess-late-")
    val baseUs = 1704067200000000L // 2024-01-01 00:00:00 UTC
    def us(min: Long) = baseUs + min * 60L * 1000000L
    def ts(min: Long) = new java.sql.Timestamp(us(min) / 1000L)
    import spark.implicits._
    val files: Seq[Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]] = Seq(
      // u1 span [0, 10]
      Seq((1L, ts(0), 1L, "click", 1.0, "{}"), (2L, ts(10), 1L, "click", 1.0, "{}")),
      // watermark jumps to 600 − 60 = 540 min; [0, 10] folds into counters
      Seq((3L, ts(600), 1L, "click", 1.0, "{}")),
      // t=100 is far below wm=540: MUST be dropped (the old code merged it,
      // re-opening a phantom span → 3 sessions / 5 events). t=610 extends
      // the pending [600] span.
      Seq((4L, ts(100), 1L, "click", 1.0, "{}"), (5L, ts(610), 1L, "click", 1.0, "{}")))
    files.zipWithIndex.foreach { case (rs, i) =>
      val df = rs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val tmp = s"$dirp/stage_$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val tgt = dirp.resolve(s"$i.parquet")
      java.nio.file.Files.move(f.toPath, tgt,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tgt.toFile.setLastModified(1000000L * (i + 1))
    }
    val stream = Streams.sessionCounts(
      Streams.readEventStreamFrom(spark, dirp.toString, Some(1)))
    val q = stream.writeStream.format("memory").queryName("stream_sess_late")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val fin = spark.table("stream_sess_late")
      .groupBy("user_id").agg(max("n_sessions").as("ns"), max("n_events").as("ne"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // admitted rows: [0, 10] (folded, 2 events) + [600, 610] (pending,
    // 2 events) = 2 sessions, 4 events; the dropped straggler adds nothing
    assert(fin == Seq((1L, 2L, 4L)),
      s"late straggler perturbed the session counters: $fin")
  }

  test("streamingDedupExact: in-horizon duplicates dropped exactly once, past-horizon repeat re-emits") {
    val dirp = java.nio.file.Files.createTempDirectory("graft-dedup-stream-")
    val baseUs = 1704067200000000L
    def ts(min: Long) = new java.sql.Timestamp((baseUs + min * 60L * 1000000L) / 1000L)
    import spark.implicits._
    val textA = "The Quick, Brown Fox!"   // normalizes like "the quick brown fox"
    val textA2 = "the  quick BROWN fox"   // same normalized digest, different raw text
    val textB = "something else entirely"
    val textC = "watermark driver document"
    val files: Seq[Seq[(Long, String, java.sql.Timestamp)]] = Seq(
      Seq((1L, textA, ts(0)), (2L, textB, ts(1))),
      // same digest within the 1 h horizon: dropped (state still live)
      Seq((3L, textA2, ts(10))),
      // watermark driver: after this batch the wm computes to 540 min, but
      // EVICTION in a batch uses the watermark advanced by the PREVIOUS
      // batch — so digest-A state (expiry ≤ 10 + 60 min) survives this
      // batch and dies in the next one
      Seq((4L, textC, ts(600))),
      // second driver batch: eviction now runs with wm = 540 min → digest-A
      // state is gone by the end of this batch
      Seq((6L, textC + " two", ts(601))),
      // past-horizon repeat: state gone → re-emitted, by design
      Seq((5L, textA, ts(605))))
    files.zipWithIndex.foreach { case (rs, i) =>
      val df = rs.toDF("doc_id", "text", "ts")
      val tmp = s"$dirp/stage_$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val tgt = dirp.resolve(s"$i.parquet")
      java.nio.file.Files.move(f.toPath, tgt,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tgt.toFile.setLastModified(1000000L * (i + 1))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    val stream = Streams.streamingDedupExact(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(dirp.toString))
    val q = stream.writeStream.format("memory").queryName("stream_dedup_exact")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stream_dedup_exact")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // doc 3 (in-horizon duplicate) is the ONLY drop; doc 5 re-emits because
    // its original's state expired with the watermark — the bounded-state
    // contract, not a bug
    assert(got == Seq(1L, 2L, 4L, 5L, 6L),
      s"within-watermark dedup emitted the wrong representative set: $got")
  }

  test("streamingDedupExact over the documents corpus equals batch distinct digests") {
    // corpus-level equality: every document arrives within one horizon →
    // the emitted digest SET equals the batch normalized-dedup group set,
    // and each group emits exactly once
    val docs = graft.source.Tables.documents(spark, dir)
      .withColumn("ts", timestamp_micros(lit(1704067200000000L) + col("doc_id") * 1000000L))
    val dirp = java.nio.file.Files.createTempDirectory("graft-dedup-corpus-")
    (0 until 3).foreach { i =>
      val tmp = s"$dirp/stage_$i"
      docs.filter(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val tgt = java.nio.file.Paths.get(s"$dirp/$i.parquet")
      java.nio.file.Files.move(f.toPath, tgt,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tgt.toFile.setLastModified(1000000L * (i + 1))
    }
    val schema = docs.schema
    val stream = Streams.streamingDedupExact(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(dirp.toString), watermark = "30 days")
    val q = stream.writeStream.format("memory").queryName("stream_dedup_corpus")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val got = spark.table("stream_dedup_corpus").select("norm_md5")
    val want = graft.text.Dedup.exactNorm(docs).select("norm_md5")
    assert(got.count() == got.distinct().count(), "a digest emitted twice in-horizon")
    assert(got.distinct().exceptAll(want).count() == 0 &&
      want.exceptAll(got.distinct()).count() == 0,
      "streaming dedup digest set diverges from the batch normalized dedup")
  }

  test("streamingDecontamPairs equals batch crossCorpusPairs row for row") {
    val docs = graft.source.Tables.documents(spark, dir)
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val eval = docs.filter(col("doc_id") % 10 === 0)
    // stream the train corpus in 3 mtime-ordered files
    val dirp = java.nio.file.Files.createTempDirectory("graft-decontam-stream-")
    (0 until 3).foreach { i =>
      val tmp = s"$dirp/stage_$i"
      train.filter(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val tgt = java.nio.file.Paths.get(s"$dirp/$i.parquet")
      java.nio.file.Files.move(f.toPath, tgt,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tgt.toFile.setLastModified(1000000L * (i + 1))
    }
    val stream = Streams.streamingDecontamPairs(
      spark.readStream.schema(train.schema).option("maxFilesPerTrigger", 1)
        .parquet(dirp.toString), eval)
    val q = stream.writeStream.format("memory").queryName("stream_decontam")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "expected >= 3 non-empty micro-batches")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("train_id", "eval_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val got = canon(spark.table("stream_decontam"))
    val want = canon(graft.text.Dedup.crossCorpusPairs(train, eval))
    assert(want.nonEmpty, "fixture produced no contamination pairs")
    assert(got == want,
      s"streaming decontamination diverges from batch:\n got=$got\nwant=$want")
  }

  test("streaming GARCH equals the batch feat_garch row for row") {
    val stream = Streams.streamingGarch(
      Streams.tickStream(Streams.readEventStream(spark, dir)))
    val q = stream.writeStream.format("memory").queryName("stream_garch")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stream_garch")
    assertSameBits(got, Market.withGarch(Bars.bars(spark, dir)),
      "garch_var" -> "garch_var", "garch_vol" -> "garch_vol")
  }

  test("e2e pipeline: ingest → watermark dedup → RSI (transformWithState) → upsert sink equals batch, across a checkpoint restart") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-e2e-").toString
    val in = s"$base/in"; val table = s"$base/table"; val ckpt = s"$base/ckpt"
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    def tick(i: Int) = ("S" + (i % 2), i.toLong, ts(i), 100.0 + (i * 7 % 13))
    // stage 1: 30 ticks over 2 symbols + exact redeliveries INSIDE the batch
    val b1 = (0 until 30).map(tick)
    // stage 2 (arrives after the restart): 30 later ticks + in-horizon
    // redeliveries of stage-1 ticks + an intra-batch duplicate
    val b2 = (30 until 60).map(tick)
    def write(name: String, rows: Seq[(String, Long, java.sql.Timestamp, Double)]): Unit =
      rows.toDF("symbol", "event_id", "ts", "close").coalesce(1)
        .write.mode("overwrite").parquet(s"$in/$name")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "symbol STRING, event_id BIGINT, ts TIMESTAMP, close DOUBLE")
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(in)
      Streams.sinkUpsert(Streams.pipelineDedupRsi(stream), table, ckpt,
        Seq("symbol", "event_id"), "event_id").awaitTermination(180000)
    }
    write("b1", b1 ++ Seq(b1(4), b1(9)))
    run()
    // mid-stream restart: new file lands, the SAME checkpoint restores
    // both the dedup digest state and the per-symbol RSI state
    write("b2", b2 ++ Seq(b1(6), b1(11), b2.head))
    run()
    val got = spark.read.parquet(table)
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // batch twin over the deduped union: the Ewma-window RSI pipeline
    val all = (b1 ++ b2).toDF("symbol", "event_id", "ts", "close")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("symbol").orderBy(col("ts"), col("event_id"))
    val part = Seq(col("symbol")); val ord = Seq(col("ts"), col("event_id"))
    val delta = col("close") - lag(col("close"), 1).over(w)
    val s1 = all.select(col("symbol"), col("event_id"),
      col("ts"), col("close"),
      ((delta > 0).cast("double") * delta).as("_g"),
      ((delta < 0).cast("double") * (-delta)).as("_l"))
    def ewm(c: org.apache.spark.sql.Column) = graft.expr.Ewma.ewmaSpanOver(
      c, graft.Params.RsiPeriod, adjust = false, part, ord)
    val want = s1.select(col("symbol"), col("event_id"),
        (lit(100) - lit(100) / (lit(1) + ewm(col("_g")) /
          (ewm(col("_l")) + lit(1e-10)))).as("rsi"))
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got.keySet == want.keySet,
      s"sunk key set diverges: extra=${got.keySet -- want.keySet} " +
        s"missing=${want.keySet -- got.keySet}")
    want.foreach { case (k, wv) =>
      val gv = got(k)
      assert(gv.isDefined == wv.isDefined, s"null mismatch at $k: $gv vs $wv")
      gv.zip(wv).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToRawLongBits(a) ==
          java.lang.Double.doubleToRawLongBits(b), s"rsi mismatch at $k: $a vs $b") }
    }
  }
}
