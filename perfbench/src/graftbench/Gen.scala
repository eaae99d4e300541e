package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generator. Everything the program reads is written here
  * from `seed` alone; the same seed gives the same files. The generated
  * rows are also kept in memory, so the output checks compute their
  * reference answers from the inputs, not from the program.
  */
object Gen {
  /** One row of the events table (the testdata schema). */
  case class Event(eventId: Long, tsUs: Long, userId: Long, eventType: String,
      value: Double, props: String) {
    def symbol(k: Int): Int = (userId % k).toInt
  }

  val Symbols = 32 // graft.Params.Symbols: the bars adapter folds user_id mod 32
  val BaseUs = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
  val StepUs = 60L * 1000000L // one bar per symbol per minute
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  /** AR(1) coefficient of the per-bar log return: a negative value plants a
    * mean-reverting signal, so the sign of the next return is predictable
    * from the current one (the learnable forward-return signal). */
  val Phi = -0.5

  val EventSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")

  /** Random-walk bars: `rowsPerSymbol` bars for each of 32 symbols, one per
    * minute, interleaved by time; `event_id` follows time order. */
  def bars(seed: Long, rowsPerSymbol: Int): Seq[Event] = {
    val rng = new SplittableRandom(seed)
    val price = Array.fill(Symbols)(50.0 + rng.nextDouble() * 150.0)
    val ret = Array.fill(Symbols)(0.0)
    val out = Array.newBuilder[Event]
    var id = 0L
    for (j <- 0 until rowsPerSymbol; s <- 0 until Symbols) {
      ret(s) = Phi * ret(s) + 0.01 * gaussian(rng)
      price(s) *= math.exp(ret(s))
      out += Event(id, BaseUs + j * StepUs + s * 1000L, s + Symbols * rng.nextInt(64).toLong,
        EventTypes(rng.nextInt(EventTypes.size)), price(s), s"""{"k": ${rng.nextInt(100)}}""")
      id += 1
    }
    out.result().toSeq
  }

  def gaussian(rng: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on every JDK
    val u = 1.0 - rng.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  def eventsFrame(spark: SparkSession, rows: Seq[Event]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(e =>
      Row(e.eventId, e.tsUs, e.userId, e.eventType, e.value, e.props)), 4), EventSchema)
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))

  def writeEvents(spark: SparkSession, rows: Seq[Event], path: String): Unit =
    eventsFrame(spark, rows).coalesce(1).write.parquet(path)

  // ---- stream replay: files with planted redeliveries and late rows ----

  /** Staged stream: `files` event files in arrival order; `distinct` is the
    * set of rows a correct within-watermark dedup admits, `late` the rows
    * behind the watermark, `redelivered` how many exact copies were staged. */
  case class Stream(files: Seq[Seq[Event]], distinct: Seq[Event], late: Seq[Event],
      redelivered: Int)

  val StreamSliceMinutes = 60
  /** Late rows are stamped 3.5-4 h behind the start of their file's time
    * slice. Measured, the watermark in force for micro-batch k trails the
    * newest event of batch k-2 (not k-1) by the 1 h delay, so this lag puts
    * each late row, and the end of its 1 h window, behind the watermark. */
  val LateLagUs = 210L * 60 * 1000000L

  def stream(seed: Long, files: Int, redeliveredPerFile: Int, latePerFile: Int): Stream = {
    val base = bars(seed, files * StreamSliceMinutes)
    val rng = new SplittableRandom(seed ^ 0x5eedL)
    val sliceUs = StreamSliceMinutes * StepUs
    val slices = base.groupBy(e => ((e.tsUs - BaseUs) / sliceUs).toInt)
    var nextId = base.size.toLong + 1000000L
    val late = Seq.newBuilder[Event]
    var redelivered = 0
    val staged = (0 until files).map { k =>
      val own = slices(k).sortBy(_.eventId)
      val copies = if (k == 0) Nil else {
        val prev = slices(k - 1)
        Seq.fill(redeliveredPerFile)(prev(rng.nextInt(prev.size)))
      }
      redelivered += copies.size
      // from the third file on: the first two micro-batches run before any
      // watermark is in force
      val lateRows = if (k < 2) Nil else Seq.fill(latePerFile) {
        val s = rng.nextInt(Symbols)
        val e = Event(nextId, BaseUs + k * sliceUs - LateLagUs - rng.nextInt(1800) * 1000000L,
          s.toLong, "view", 100.0 + rng.nextDouble(), """{"k": -1}""")
        nextId += 1
        e
      }
      late ++= lateRows
      // redeliveries and late rows land at random places inside the file
      val rows = scala.collection.mutable.ArrayBuffer.from(own)
      (copies ++ lateRows).foreach(e => rows.insert(rng.nextInt(rows.size + 1), e))
      rows.toSeq
    }
    Stream(staged, base, late.result(), redelivered)
  }

  // ---- query mix: a small TPC-H-like star, documents, embeddings ----

  case class Tables(lineitem: Seq[(Long, Long, Long)], docs: Seq[(Long, String)],
      embeddings: Seq[(Long, Array[Float])])

  val Words: IndexedSeq[String] = ("the a data spark stream batch join merge sort hash scan " +
    "filter group agg window row column table query key value order line part customer " +
    "vector big small fast slow").split(" ").toIndexedSeq

  /** Writes every table the query mix reads under `dir`; returns the rows
    * the checks need. Sizes are those of the sf0.001 testdata. */
  def queryTables(spark: SparkSession, seed: Long, dir: String): Tables = {
    import spark.implicits._
    val rng = new SplittableRandom(seed ^ 0x7ab1e5L)
    def write(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.parquet(s"$dir/$name.parquet")
    val nSupp = 10; val nPart = 200; val nCust = 150; val nOrders = 1500
    write(Seq(0 -> "AFRICA", 1 -> "AMERICA", 2 -> "ASIA", 3 -> "EUROPE", 4 -> "MIDDLE EAST")
      .toDF("r_regionkey", "r_name"), "region")
    write((0 until 25).map(n => (n, s"NATION_$n", n % 5)).toDF("n_nationkey", "n_name", "n_regionkey"),
      "nation")
    write((0 until nSupp).map(s => (s.toLong, f"Supplier#$s%09d", rng.nextInt(25),
      math.rint(rng.nextDouble() * 1e6) / 100)).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "supplier")
    val adj = Seq("cold", "small", "large", "red", "blue", "old", "new", "bright")
    val noun = Seq("widget", "bolt", "gear", "valve", "spring", "panel")
    val types = Seq("ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM")
    write((0 until nPart).map(p => (p.toLong, s"${adj(rng.nextInt(adj.size))} ${noun(rng.nextInt(noun.size))}",
      s"Brand#${1 + rng.nextInt(25)}", types(rng.nextInt(types.size)), 1 + rng.nextInt(50),
      900.0 + p * 0.1)).toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      "part")
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write((0 until nCust).map(c => (c.toLong, f"Customer#$c%09d", rng.nextInt(25),
      math.rint(rng.nextDouble() * 1e6) / 100, segs(rng.nextInt(segs.size))))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), "customer")
    val day = 86400L * 1000000L
    val d0 = 694224000L * 1000000L // 1992-01-01
    val orders = (0 until nOrders).map(o => (o.toLong, rng.nextInt(nCust).toLong,
      d0 + rng.nextInt(2400) * day))
    write(orders.map { case (o, c, d) => (o, c, if (rng.nextBoolean()) "F" else "O",
      math.rint(rng.nextDouble() * 3e7) / 100, d, s"${1 + rng.nextInt(5)}-PRIORITY") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "od_us", "o_orderpriority")
      .withColumn("o_orderdate", timestamp_micros(col("od_us"))).drop("od_us")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
      "orders")
    // parts are drawn from a skewed popularity so that co-purchase pairs repeat
    def part(): Long = { val u = rng.nextDouble(); (nPart * u * u).toLong }
    val lines = orders.flatMap { case (o, _, d) =>
      (1 to 1 + rng.nextInt(7)).map { ln =>
        val q = 1 + rng.nextInt(50)
        (o, part(), rng.nextInt(nSupp).toLong, ln, q.toDouble, math.rint(q * 1000 * rng.nextDouble()) / 100,
          rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0, Seq("A", "N", "R")(rng.nextInt(3)),
          if (rng.nextBoolean()) "F" else "O", d + (1 + rng.nextInt(120)) * day)
      }
    }
    write(lines.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "sd_us")
      .withColumn("l_shipdate", timestamp_micros(col("sd_us"))).drop("sd_us"), "lineitem")

    // documents: random word strings plus planted near-duplicates (one or
    // two words replaced), so MinHash has real pairs to find
    val langs = Seq("en", "de", "fr", "es", "zh")
    val nDocs = 500
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    (0 until nDocs).foreach { d =>
      val t = if (d >= 40 && d % 10 == 0) {
        val w = texts(rng.nextInt(texts.size)).split(" ")
        (0 until 1 + rng.nextInt(2)).foreach(_ => w(rng.nextInt(w.length)) = Words(rng.nextInt(Words.size)))
        w.mkString(" ")
      } else Seq.fill(20 + rng.nextInt(60))(Words(rng.nextInt(Words.size))).mkString(" ")
      texts += t
    }
    val docs = texts.toSeq.zipWithIndex.map { case (t, d) => (d.toLong, t) }
    write(docs.map { case (d, t) => (d, t, langs(rng.nextInt(langs.size)), s"src${d % 5}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")

    // embeddings: 10 labelled clusters in 64 dimensions
    val dim = 64
    val centers = Array.fill(10, dim)(gaussian(rng))
    val emb = (0 until 500).map { v =>
      val l = rng.nextInt(10)
      (v.toLong, Array.tabulate(dim)(i => (centers(l)(i) + 0.6 * gaussian(rng)).toFloat), l)
    }
    write(emb.map { case (v, e, l) => (v, e.toSeq, l) }.toDF("vec_id", "embedding", "label"), "embeddings")

    writeEvents(spark, bars(seed, 40).take(1000), s"$dir/events.parquet")
    Tables(lines.map(l => (l._1, l._2, l._3)), docs, emb.map(e => (e._1, e._2)))
  }
}
