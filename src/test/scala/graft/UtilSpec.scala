package graft

import graft.ml.{MlPipeline, Scoring}
import graft.source.{Bars, Retry, Storage}
import org.apache.spark.sql.functions._

/** Storage / retry / schema-normalization / scoring utilities
  * (reference: src/data/storage.py, src/data/ingestion.py:30-104,
  * src/ml/prediction.py). */
class UtilSpec extends SparkSpec {

  test("storage path templating matches the reference convention") {
    assert(Storage.rawPath("/data", "AAPL", "1min", "20240101") ==
      "/data/raw/AAPL_1min_20240101.parquet")
    assert(Storage.processedPath("/data", "features", "csv") ==
      "/data/processed/features.csv")
  }

  test("parquet, csv, json, and orc save/load roundtrip bars exactly") {
    val df = barsOf(Seq(100.0, 101.5, 99.8)).select(
      "symbol", "event_id", "datetime", "open", "high", "low", "close", "volume")
    val base = java.nio.file.Files.createTempDirectory("graft-storage").toString
    for (fmt <- Seq("parquet", "csv", "json", "orc")) {
      Storage.save(df, s"$base/$fmt", fmt)
      val back = Storage.load(spark, s"$base/$fmt", fmt, Some(df.schema))
      assert(back.orderBy("event_id").collect().toSeq ==
        df.orderBy("event_id").collect().toSeq, s"roundtrip $fmt")
    }
  }

  test("parquet save: floating-point columns skip the dictionary, others keep it, values bit-exact") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    // few distinct values per column, so every column would take a
    // dictionary if the writer were left to choose
    val ds = Seq(1.5, Double.NaN, -0.0, 0.0, Double.NegativeInfinity, 3.0e300)
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("s", StringType), StructField("n", LongType)))
    val rows = (0 until 3000).map { i =>
      val nul = i % 13 == 5
      Row(i.toLong, if (nul) null else ds(i % ds.size),
        if (nul) null else ds(i % ds.size).toFloat,
        if (nul) null else s"s${i % 5}", if (nul) null else (i % 11).toLong)
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val path = java.nio.file.Files.createTempDirectory("graft-dict").toString + "/t"
    Storage.save(df, path)

    val files = new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val chunks = files.toSeq.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toURI), spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .map(c => c.getPath.toDotString -> c.hasDictionaryPage).toSeq
      finally r.close()
    }
    for (col <- Seq("d", "f"))
      assert(chunks.filter(_._1 == col).forall(!_._2), s"$col chunk has a dictionary page: $chunks")
    // (`id` is unique, so its own dictionary overflows; it is not checked)
    for (col <- Seq("s", "n"))
      assert(chunks.filter(_._1 == col).forall(_._2), s"$col chunk lost its dictionary: $chunks")
    assert(chunks.map(_._1).toSet == Set("id", "d", "f", "s", "n"))

    def bits(frame: org.apache.spark.sql.DataFrame) =
      frame.orderBy("id").collect().toSeq.map(CodegenSpec.bits)
    val back = Storage.load(spark, path)
    assert(back.schema.map(f => f.name -> f.dataType) == schema.map(f => f.name -> f.dataType))
    assert(bits(back) == bits(df), "parquet round trip changed a value")
  }

  test("latestCached resolves the newest matching file by mtime") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cache")
    def touch(name: String, t: Long) = {
      val p = dir.resolve(name)
      java.nio.file.Files.writeString(p, "x")
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(t))
      p
    }
    touch("AAPL_1min_20240101.parquet", 1000)
    val newest = touch("AAPL_1min_20240102.parquet", 2000)
    touch("MSFT_1min_20240103.parquet", 3000)
    touch("AAPL_5min_20240104.parquet", 4000)
    assert(Storage.latestCached(dir.toString, "AAPL", "1min").contains(newest))
    assert(Storage.latestCached(dir.toString, "TSLA", "1min").isEmpty)
    assert(Storage.latestCached("/nonexistent", "AAPL", "1min").isEmpty)
  }

  test("retry backs off exponentially on rate-limit errors only") {
    var sleeps = Seq.empty[Long]
    var calls = 0
    val out = Retry.withBackoff(maxRetries = 3, baseDelayMs = 10,
        sleep = d => sleeps = sleeps :+ d) {
      calls += 1
      if (calls < 3) throw new RuntimeException("API rate limit exceeded")
      "ok"
    }
    assert(out == "ok" && calls == 3 && sleeps == Seq(10L, 20L))

    // non-retryable error propagates immediately
    var calls2 = 0
    intercept[RuntimeException] {
      Retry.withBackoff(maxRetries = 3, baseDelayMs = 1, sleep = _ => ()) {
        calls2 += 1; throw new RuntimeException("boom")
      }
    }
    assert(calls2 == 1)

    // exhaustion rethrows the rate-limit error after maxRetries
    var calls3 = 0
    intercept[RuntimeException] {
      Retry.withBackoff(maxRetries = 2, baseDelayMs = 1, sleep = _ => ()) {
        calls3 += 1; throw new RuntimeException("rate limit")
      }
    }
    assert(calls3 == 3)
  }

  test("normalizeDatetime finds the time column by name or dtype") {
    val s = spark
    import s.implicits._
    val byName = Seq((1L, "2024-01-01 10:00:00")).toDF("id", "Timestamp")
    assert(Bars.normalizeDatetime(byName).columns.contains("datetime"))
    val byType = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("id", "weird_name")
    val n = Bars.normalizeDatetime(byType)
    assert(n.columns.contains("datetime") && !n.columns.contains("weird_name"))
    intercept[IllegalArgumentException] {
      Bars.normalizeDatetime(Seq((1L, 2L)).toDF("a", "b"))
    }
  }

  test("readEvents canonicalizes every shipped ts physical form identically") {
    // The driver has regenerated testdata with ts as INT64 TIMESTAMP(NANOS)
    // (read as long nanos) and as TIMESTAMP(MICROS, isAdjustedToUTC=false)
    // (read as TIMESTAMP_NTZ); a session-zoned TIMESTAMP write is the third
    // plausible form. All three must dispatch to the same session-zoned µs
    // TimestampType values — a format flip must never shift or retype ts.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    val usecs = Seq(1704067200000000L, 1704067201500000L, 1706741832194062L)
    val base = java.nio.file.Files.createTempDirectory("graft-tsforms-").toString
    def dirFor(name: String)(write: String => Unit): String = {
      val d = s"$base/$name"; write(s"$d/events.parquet"); d
    }
    val asNanos = dirFor("nanos") { p =>
      usecs.zipWithIndex.map { case (us, i) => (i.toLong, us * 1000L, 1L, "x", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(p)
    }
    val asNtz = dirFor("ntz") { p =>
      usecs.zipWithIndex.map { case (us, i) => (i.toLong, us, 1L, "x", 1.0, "{}") }
        .toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(p)
    }
    val asLtz = dirFor("ltz") { p =>
      usecs.zipWithIndex.map { case (us, i) => (i.toLong, us, 1L, "x", 1.0, "{}") }
        .toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(col("us")))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(p)
    }
    val reads = Seq("nanos" -> asNanos, "ntz" -> asNtz, "ltz" -> asLtz).map {
      case (form, d) =>
        val got = Bars.readEvents(spark, d)
        assert(got.schema("ts").dataType == TimestampType,
          s"$form form must canonicalize to TimestampType, got ${got.schema("ts").dataType}")
        form -> got.orderBy("event_id").select(unix_micros(col("ts")))
          .collect().map(_.getLong(0)).toSeq
    }
    reads.foreach { case (form, got) =>
      assert(got == usecs, s"$form form shifted ts values: $got vs $usecs")
    }
  }

  test("scoring validates features and attaches prediction + probability_up") {
    val feats = graft.features.Targets.withTarget(
      graft.features.Features.computeAllFeatures(
        Bars.bars(spark, "/root/testdata/sf0.001")))
    val fcols = graft.features.Features.FeatureCols
    val model = MlPipeline.classifier(maxIter = 2).setMaxDepth(3)
      .fit(MlPipeline.assemble(feats, fcols))
    val scored = Scoring.scoreClassifier(model, feats, fcols)
    assert(scored.columns.contains("prediction") && scored.columns.contains("probability_up"))
    val probs = scored.select("probability_up").collect().map(_.getDouble(0))
    assert(probs.forall(p => p >= 0.0 && p <= 1.0))
    intercept[IllegalArgumentException] {
      Scoring.scoreClassifier(model, feats.drop("rsi"), fcols)
    }
  }

  test("loadEvolved merges schema versions and rejects never-present columns") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve-").toString + "/t"
    // v1 writer: two columns; v2 writer adds `sector`
    Seq((1L, 10.0), (2L, 20.0)).toDF("event_id", "close")
      .write.parquet(s"$dir/v=1")
    Seq((3L, 30.0, "tech")).toDF("event_id", "close", "sector")
      .write.parquet(s"$dir/v=2")
    val merged = graft.source.Storage.loadEvolved(spark, dir,
      requiredCols = Seq("event_id", "close", "sector"))
    val rows = merged.orderBy("event_id").collect()
    assert(rows.length == 3)
    assert(rows.take(2).forall(_.isNullAt(rows(0).fieldIndex("sector"))),
      "old-version rows must surface the new column as NULL")
    assert(rows(2).getAs[String]("sector") == "tech")
    val err = intercept[IllegalArgumentException] {
      graft.source.Storage.loadEvolved(spark, dir, requiredCols = Seq("no_such_col"))
    }
    assert(err.getMessage.contains("no_such_col"))
  }
}
