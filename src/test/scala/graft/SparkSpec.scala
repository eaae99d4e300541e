package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * session startup dominates test time otherwise). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  /** Tiny bar frame: one or more symbols, strictly increasing event time. */
  def barsOf(close: Seq[Double], symbol: String = "A"): DataFrame = {
    val s = spark
    import s.implicits._
    close.zipWithIndex
      .map { case (c, i) => (symbol, i.toLong, c) }
      .toDF("symbol", "event_id", "close")
      .withColumn("datetime", timestamp_micros(col("event_id") * 1000000L))
      .withColumn("open", col("close"))
      .withColumn("high", col("close") * 1.01)
      .withColumn("low", col("close") * 0.99)
      .withColumn("volume", lit(100.0))
  }

  def column(df: DataFrame, name: String): Seq[Option[Double]] =
    df.orderBy("symbol", "event_id").select(name).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq

  def assertSeq(got: Seq[Option[Double]], want: Seq[Double], tol: Double = 1e-9): Unit = {
    assert(got.length == want.length, s"length ${got.length} vs ${want.length}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      if (w.isNaN) assert(g.isEmpty, s"row $i: expected null, got $g")
      else {
        assert(g.isDefined, s"row $i: expected $w, got null")
        assert(math.abs(g.get - w) <= tol, s"row $i: got ${g.get}, want $w")
      }
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("graft-test", Some("local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
