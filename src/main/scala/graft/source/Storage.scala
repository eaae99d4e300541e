package graft.source

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}
import scala.jdk.CollectionConverters._

/** Storage utilities mirroring the reference's save/load + cache layer
  * (reference: src/data/storage.py):
  *  - path templating `{symbol}_{interval}_{timestamp}.{format}`
  *    (storage.py:11-57)           — S10
  *  - parquet/CSV save + load (storage.py:60-111) — S5/S6/S7/S8
  *  - newest-cache-file resolution by mtime (storage.py:114-152) — S9
  */
object Storage {

  def rawPath(baseDir: String, symbol: String, interval: String,
      timestamp: String, format: String = "parquet"): String =
    s"$baseDir/raw/${symbol}_${interval}_$timestamp.$format"

  def processedPath(baseDir: String, name: String, format: String = "parquet"): String =
    s"$baseDir/processed/$name.$format"

  def save(df: DataFrame, path: String, format: String = "parquet"): Unit = format match {
    case "parquet" => df.write.mode("overwrite").options(plainFloats(df)).parquet(path)
    case "csv" => df.write.mode("overwrite").option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(path)
    case "json" => df.write.mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").json(path)
    case "orc" => df.write.mode("overwrite").orc(path)
    case other => throw new IllegalArgumentException(s"Unsupported format: $other")
  }

  /** Parquet writer options that turn dictionary encoding off for each
    * top-level floating-point column (parquet-mr's per-column key
    * `parquet.enable.dictionary#<column>`). Prices, returns and every derived
    * feature are near-unique doubles: the writer built a dictionary for each
    * such column, found it too large at the end of the page and fell back to
    * plain encoding, so the dictionary was paid for and thrown away. String
    * and integral columns, whose values repeat, keep their dictionaries. */
  private def plainFloats(df: DataFrame): Map[String, String] =
    df.schema.fields.collect {
      case f if f.dataType == DoubleType || f.dataType == FloatType =>
        s"parquet.enable.dictionary#${f.name}" -> "false"
    }.toMap

  def load(spark: SparkSession, path: String, format: String = "parquet",
      schema: Option[StructType] = None): DataFrame = format match {
    case "parquet" => spark.read.parquet(path)
    case "csv" =>
      val r = spark.read.option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      schema.fold(r.option("inferSchema", "true"))(s => r.schema(s)).csv(path)
    case "json" =>
      val r = spark.read
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
      schema.fold(r)(s => r.schema(s)).json(path)
    case "orc" => spark.read.orc(path)
    case other => throw new IllegalArgumentException(s"Unsupported format: $other")
  }

  /** Write a bucketed + sorted table: co-locates rows by join key so that
    * repeated joins/aggregations on `key` run exchange-free (Spark reads the
    * bucket layout and skips the shuffle). The 100 TB pattern for fact
    * tables that are joined on the same key many times — pay one shuffle at
    * write time, never again. Requires a table (metastore) rather than a
    * bare path; pair with `spark.table(name)`.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int = 32, sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    // idempotent: drop any previous table AND its orphaned warehouse dir
    // (a dropped catalog entry can leave the location behind across
    // sessions, which saveAsTable then refuses to reuse)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Hive-style date-partitioned parquet layout (`.../day=YYYY-MM-DD/...`)
    * — the standard lake layout for time-series facts: a reader filtering
    * on `day` prunes whole directories at PLANNING time (PartitionFilters,
    * no file even listed), which is what makes "last week over 100 TB of
    * history" cost last week, not 100 TB. PlanSpec asserts the pruned scan
    * reads strictly fewer files than the full table. */
  def savePartitionedByDay(df: DataFrame, path: String,
      tsCol: String = "datetime"): Unit =
    df.withColumn("day",
        org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col(tsCol)))
      .write.mode("overwrite").partitionBy("day").parquet(path)

  /** Schema-evolving read over a parquet directory written by different
    * pipeline versions: `mergeSchema` unions the per-file schemas (columns
    * added by newer writers arrive as NULL on old files), and
    * `requiredCols` pins the expected superset so a reader fails loudly on
    * a column that never existed instead of propagating a silent NULL
    * stream downstream. The standard evolution path for an append-only
    * lake where rewriting 100 TB of history for a new column is not an
    * option. */
  def loadEvolved(spark: SparkSession, path: String,
      requiredCols: Seq[String] = Nil): DataFrame = {
    val df = spark.read.option("mergeSchema", "true").parquet(path)
    val missing = requiredCols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"loadEvolved($path): columns absent from every file: ${missing.mkString(", ")}")
    df
  }

  /** Newest file matching `{symbol}_{interval}_*.{format}` by modification
    * time (the reference's cache probe, storage.py:114-137). */
  def latestCached(dir: String, symbol: String, interval: String,
      format: String = "parquet"): Option[Path] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return None
    val prefix = s"${symbol}_${interval}_"
    val stream = Files.list(d)
    try {
      stream.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith(prefix) &&
          p.getFileName.toString.endsWith(s".$format"))
        .toSeq
        .sortBy(p => Files.getLastModifiedTime(p).toMillis)
        .lastOption
    } finally stream.close()
  }
}
