package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{ApplyColumnarRulesAndInsertTransitions, CollapseCodegenStages, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Guards `spark.sql.codegen.hugeMethodLimit` (set by GraftSession) against
  * the code it has to cover. HotSpot never JIT-compiles a method over 8000
  * bytes of bytecode, so a whole-stage method above that runs interpreted
  * unless the limit sends its subtree to per-operator projections. */
class CodegenSpec extends SparkSpec {
  import CodegenSpec._

  private val dir = "/root/testdata/sf0.001"

  private def featuresWithTarget(): DataFrame = graft.features.Targets.withTarget(
    graft.features.Features.computeAllFeatures(graft.source.Bars.bars(spark, dir)))

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("feature pipeline + target: the session's method-size limit covers every whole stage") {
    val df = featuresWithTarget()
    df.write.format("noop").mode("overwrite").save()
    val sizes = maxMethodSizes(df.queryExecution.executedPlan)
    assert(sizes.nonEmpty, "no whole-stage subtree in the executed feature plan")
    val largest = sizes.max
    info(s"largest whole-stage method: $largest bytes over ${sizes.size} stages")
    assert(largest <= HotSpotLimit || sessionLimit(spark) <= HotSpotLimit,
      s"a whole-stage method is $largest bytes but hugeMethodLimit is " +
        s"${sessionLimit(spark)}: HotSpot would run it interpreted")
  }

  test("feature output is bit-identical with the method-size limit at 65535 and at 8000") {
    def rows(limit: Int): Seq[Seq[Any]] = withConf(LimitKey, limit.toString) {
      featuresWithTarget().orderBy("symbol", "event_id").collect().toSeq.map(bits)
    }
    val whole = rows(65535)
    val split = rows(HotSpotLimit)
    assert(whole.nonEmpty)
    assert(whole == split, "feature output depends on hugeMethodLimit")
  }
}

object CodegenSpec {
  val LimitKey = "spark.sql.codegen.hugeMethodLimit"
  /** HotSpot's `-XX:-DontCompileHugeMethods` threshold, in bytecode bytes. */
  val HotSpotLimit = 8000

  def sessionLimit(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.get(LimitKey).toInt

  /** A row with every double and float replaced by its raw bits, so that
    * -0.0 and 0.0, and NaN payloads, compare as different values. */
  def bits(r: Row): Seq[Any] = r.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case f: Float => java.lang.Float.floatToRawIntBits(f)
    case v => v
  }

  /** Largest generated method, in bytecode bytes, of each whole-stage
    * subtree in `plan`; `Int.MaxValue` for a stage that does not compile.
    * An executed adaptive plan is read stage by stage. An adaptive plan
    * that has not run yet holds no whole-stage subtrees, so it gets the two
    * rules adaptive execution applies to each new stage: columnar
    * transitions, then codegen collapsing. Runtime re-planning (a join
    * switched to broadcast) is not seen then. */
  def maxMethodSizes(plan: SparkPlan): Seq[Int] = wholeStages(plan).map { w =>
    try CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize
    catch { case scala.util.control.NonFatal(_) => Int.MaxValue }
  }

  private def wholeStages(plan: SparkPlan): Seq[WholeStageCodegenExec] = plan match {
    case a: AdaptiveSparkPlanExec =>
      val current = a.executedPlan
      val started = current.exists(p =>
        p.isInstanceOf[QueryStageExec] || p.isInstanceOf[WholeStageCodegenExec])
      wholeStages(if (started) current else CollapseCodegenStages()(
        ApplyColumnarRulesAndInsertTransitions(
          a.context.session.sessionState.columnarRules, outputsColumnar = false)(current)))
    case q: QueryStageExec => wholeStages(q.plan)
    case w: WholeStageCodegenExec => w +: wholeStages(w.child)
    case p => (p.children ++ p.subqueries).flatMap(wholeStages)
  }
}
