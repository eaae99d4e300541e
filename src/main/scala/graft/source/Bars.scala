package graft.source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Bar-source: normalize raw event rows into the canonical OHLCV bar frame.
  *
  * The reference ingests per-symbol OHLCV frames from a REST API and
  * normalizes the datetime column / dtypes / sort order
  * (reference: src/data/ingestion.py:63-104, 151-184). Our engine reads the
  * shared `events` parquet and derives deterministic bars (FIXTURES.md §4):
  * one DataFrame for ALL symbols with an explicit `symbol` column — the
  * per-symbol driver loop of the reference (src/main.py:62-87) becomes
  * `Window.partitionBy("symbol")`, which is what makes the pipeline scale
  * out to many executors instead of many Python iterations.
  *
  * Scale notes: the only wide operation is the window's hash exchange on
  * `symbol`; every downstream feature window reuses the same partitioning
  * (single shuffle for the whole feature pipeline). Filters/projections
  * stay above the parquet scan so Catalyst pushes them down.
  */
object Bars {

  /** Number of synthetic symbols to fold `user_id` into (FIXTURES.md §4).
    * Single source of truth shared with the oracle SQL builders. */
  val DefaultSymbols: Int = graft.Params.Symbols

  /** Read the shared events table, its timestamp decoded by [[decodeTs]].
    * This mirrors the reference's defensive datetime normalization at the
    * ingest edge (reference: src/data/ingestion.py:63-104, 177-180).
    */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame =
    decodeTs(spark.read.parquet(s"$sfDir/events.parquet"))

  /** Normalize raw events' `ts` column to session-zoned TimestampType (µs,
    * UTC session) — the one decode the batch read and the file stream
    * ([[graft.streaming.Streams.readEventStreamFrom]]) share.
    *
    * Driver-generated parquet has shipped `ts` in two physical forms across
    * regenerations: INT64 TIMESTAMP(NANOS) (arrives as a long of nanoseconds
    * under `spark.sql.legacy.parquet.nanosAsLong`, which `GraftSession`
    * sets, truncated to µs here — the same truncation DuckDB applies) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (arrives as TIMESTAMP_NTZ;
    * cast to TimestampType is an exact micros identity under the UTC
    * session timezone, matching DuckDB's naive read). A `ts` that already
    * is TimestampType takes the same cast, which the optimizer drops.
    * Dispatching on the observed schema keeps every downstream
    * `unix_micros`/window/watermark on one canonical type. */
  private[graft] def decodeTs(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
  }

  /** events → bars adapter. Deterministic, oracle-checkable (FIXTURES.md §4):
    *   symbol   = cast(user_id % k as string)
    *   datetime = ts
    *   close    = value
    *   open     = lag(value) over (partition by symbol order by ts, event_id),
    *              coalesced to value on the first row
    *   high     = greatest(open, close); low = least(open, close)
    *   volume   = cast(event_id % 1000 as double)
    * `event_id` is carried through as the tie-break for every downstream
    * ORDER BY / window spec (bit-stable hash matching).
    *
    * Rounding contract: the adapter itself does NO arithmetic beyond
    * copies/greatest/least/integer-mod, so it emits unrounded values; the
    * guarded floor-form 6-decimal rounding (FIXTURES.md §4, graft.queries
    * .Core.r6) is applied by each query's OUTPUT projection — derived
    * doubles are rounded exactly once, at the oracle-compared boundary.
    */
  def fromEvents(events: DataFrame, k: Int = DefaultSymbols): DataFrame = {
    val sym = (col("user_id") % k).cast("string")
    val w = Window.partitionBy("symbol").orderBy(col("datetime"), col("event_id"))
    // NOTE (r15, measured): an explicit session-width symbol repartition
    // here (to defeat AQE's byte-coalescing of this narrow exchange, which
    // runs the downstream 49-feature pipeline on ~2 partitions) was TRIED
    // and reverted: the pin's wall dropped only 0.94 → 0.72 s while total
    // task time rose 1.8 → 11.9 s, and ml_feature_bins got slower
    // end-to-end. That rise was put down to per-task window-operator setup
    // without a profile. A JFR profile of one 100k-row feature build (one
    // task) later showed no setup cost of note: 31.5% of its executor
    // samples were in an interpreted whole-stage method (the projection
    // under Targets.withTarget's lead window, 8,011 bytes, over HotSpot's
    // 8,000-byte compile limit) and 16.7% in parquet dictionaries built
    // for double columns and then dropped. GraftSession's hugeMethodLimit and
    // Storage.save's plain-encoded doubles remove both; the repartition has
    // to be measured again on top of them, at 4 and 32 cores.
    events
      .withColumn("symbol", sym)
      .withColumn("datetime", col("ts"))
      .withColumn("open", coalesce(lag(col("value"), 1).over(w), col("value")))
      .withColumn("close", col("value"))
      .withColumn("high", greatest(col("open"), col("close")))
      .withColumn("low", least(col("open"), col("close")))
      .withColumn("volume", (col("event_id") % 1000).cast("double"))
      .select("symbol", "event_id", "datetime", "open", "high", "low", "close", "volume")
  }

  /** Convenience: read + adapt in one call. */
  def bars(spark: SparkSession, sfDir: String, k: Int = DefaultSymbols): DataFrame =
    fromEvents(readEvents(spark, sfDir), k)

  /** Candidate names probed for the time column, mirroring the reference's
    * normalize_datetime_column (src/data/ingestion.py:63-104). */
  val DatetimeCandidates: Seq[String] =
    Seq("datetime", "date", "timestamp", "time", "ts", "index")

  /** Generic defensive datetime normalization: find the time column by
    * candidate name (case-insensitive) or, failing that, by dtype scan for
    * the first timestamp column; rename to `datetime` and cast to
    * TimestampType. Throws if no viable column exists — the reference raises
    * ValueError the same way (ingestion.py:96-99). */
  def normalizeDatetime(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{TimestampType, DateType}
    val byName = df.schema.fields.find(f =>
      DatetimeCandidates.contains(f.name.toLowerCase))
    val byType = df.schema.fields.find(f =>
      f.dataType == TimestampType || f.dataType == DateType)
    val src = byName.orElse(byType).getOrElse(throw new IllegalArgumentException(
      s"No datetime column found among ${df.columns.mkString(", ")}"))
    df.withColumnRenamed(src.name, "datetime")
      .withColumn("datetime", col("datetime").cast(TimestampType))
  }
}
