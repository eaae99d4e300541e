package graft

import graft.ml.MlPipeline
import graft.queries.Core
import org.apache.spark.ml.classification.GBTClassificationModel
import org.apache.spark.sql.functions._

/** End-to-end ML pipeline on the shared sf0.001 tables: matrix → temporal
  * split → GBT train → score → metrics/importances → save/load roundtrip.
  * Small maxIter keeps the suite fast; invariants (not exact metrics) are
  * asserted, per SURVEY.md §2.7 (ML is not DuckDB-oracle-checkable).
  */
class MlSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("GBT classifier trains, scores, and round-trips through save/load") {
    val bars = graft.source.Bars.bars(spark, dir)
    val feats = graft.features.Targets.withTarget(
      graft.features.Features.computeAllFeatures(bars))
    val (train, test) = MlPipeline.temporalSplit(feats)
    assert(train.count() > test.count() && test.count() > 0)

    val fcols = graft.features.Features.FeatureCols
    val trainM = MlPipeline.assemble(train, fcols)
    val testM = MlPipeline.assemble(test, fcols)
    val model = MlPipeline.classifier(maxIter = 10).fit(trainM)
    val scored = model.transform(testM)

    val metrics = MlPipeline.evaluateClassifier(scored)
    Seq("accuracy", "precision", "recall", "f1", "roc_auc").foreach { k =>
      assert(metrics(k) >= 0.0 && metrics(k) <= 1.0, s"$k=${metrics(k)}")
    }
    assert(metrics("accuracy") > 0.3) // better than degenerate

    val preds = scored.select("prediction").distinct().collect().map(_.getDouble(0)).toSet
    assert(preds.subsetOf(Set(0.0, 1.0)))

    val imp = MlPipeline.topImportances(model, fcols)
    assert(imp.count() == 20)
    val total = model.featureImportances.toArray.sum
    assert(math.abs(total - 1.0) < 1e-6)

    val path = java.nio.file.Files.createTempDirectory("graft-gbt").toString + "/model"
    model.write.overwrite().save(path)
    val loaded = GBTClassificationModel.load(path)
    val a = scored.agg(sum("prediction")).collect()(0).getDouble(0)
    val b = loaded.transform(testM).agg(sum("prediction")).collect()(0).getDouble(0)
    assert(a == b)
  }

  test("quantile-based temporal split approximates 80/20 without a global sort") {
    val bars = graft.source.Bars.bars(spark, dir)
    val (train, test) = MlPipeline.temporalSplitByTime(bars)
    val n = bars.count().toDouble
    val frac = train.count() / n
    assert(frac > 0.75 && frac < 0.85, s"train fraction $frac")
    // split is by time: max train time <= min test time
    val maxTrain = train.agg(max("datetime")).collect()(0).getTimestamp(0)
    val minTest = test.agg(min("datetime")).collect()(0).getTimestamp(0)
    assert(!maxTrain.after(minTest))
  }

  test("GBT regressor trains on forward-return target with sane metrics") {
    val bars = graft.source.Bars.bars(spark, dir)
    val feats = graft.features.Targets.withTarget(
      graft.features.Features.computeAllFeatures(bars), targetType = "regression")
    val (train, test) = MlPipeline.temporalSplit(feats)
    val fcols = graft.features.Features.FeatureCols
    val model = MlPipeline.regressor(maxIter = 5).fit(MlPipeline.assemble(train, fcols))
    val m = MlPipeline.evaluateRegressor(model.transform(MlPipeline.assemble(test, fcols)))
    assert(m("rmse") >= 0 && m("mae") >= 0 && m("mse") >= 0)
    assert(m("r2") <= 1.0)
  }

  test("confusion matrix cells sum to the scored row count") {
    val bars = graft.source.Bars.bars(spark, dir)
    val feats = graft.features.Targets.withTarget(
      graft.features.Features.computeAllFeatures(bars))
    val fcols = graft.features.Features.FeatureCols
    val m = MlPipeline.assemble(feats, fcols)
    val model = MlPipeline.classifier(maxIter = 3).fit(m)
    val scored = model.transform(m)
    val cm = MlPipeline.confusionMatrix(scored)
    assert(cm.agg(sum("count")).collect()(0).getLong(0) == scored.count())
  }

  test("classifier metrics are positive-class (binary), matching sklearn defaults") {
    // reference evaluation.py:50-52 uses sklearn average='binary':
    // precision/recall/F1 are label-1.0 ratios, NOT weighted multiclass
    // averages. Fixed scored frame: TP=2, FP=1, FN=3, TN=4 (10 rows).
    import spark.implicits._
    import org.apache.spark.ml.linalg.Vectors
    def raw(p: Double) = Vectors.dense(1.0 - p, p)
    val scored = Seq(
      (1.0, 1.0, raw(0.9)), (1.0, 1.0, raw(0.8)),             // TP ×2
      (0.0, 1.0, raw(0.7)),                                   // FP ×1
      (1.0, 0.0, raw(0.4)), (1.0, 0.0, raw(0.3)), (1.0, 0.0, raw(0.2)), // FN ×3
      (0.0, 0.0, raw(0.1)), (0.0, 0.0, raw(0.1)),             // TN ×4
      (0.0, 0.0, raw(0.1)), (0.0, 0.0, raw(0.1))
    ).toDF("label", "prediction", "rawPrediction")
    val m = MlPipeline.evaluateClassifier(scored)
    val (tp, fp, fn, tn) = (2.0, 1.0, 3.0, 4.0)
    val prec = tp / (tp + fp)           // 2/3
    val rec = tp / (tp + fn)            // 2/5
    val f1 = 2 * prec * rec / (prec + rec)
    assert(math.abs(m("accuracy") - (tp + tn) / 10.0) < 1e-12)
    assert(math.abs(m("precision") - prec) < 1e-12, s"precision=${m("precision")} want $prec")
    assert(math.abs(m("recall") - rec) < 1e-12, s"recall=${m("recall")} want $rec")
    assert(math.abs(m("f1") - f1) < 1e-12, s"f1=${m("f1")} want $f1")
  }

  test("one-pass evaluateClassifier equals MLlib's five evaluators, with and without positive predictions") {
    import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, MulticlassClassificationEvaluator}
    def mllib(scored: org.apache.spark.sql.DataFrame): Map[String, Double] = {
      def m(metric: String) = new MulticlassClassificationEvaluator()
        .setMetricName(metric).setMetricLabel(1.0).evaluate(scored)
      Map("accuracy" -> m("accuracy"), "precision" -> m("precisionByLabel"),
        "recall" -> m("recallByLabel"), "f1" -> m("fMeasureByLabel"),
        "roc_auc" -> new BinaryClassificationEvaluator()
          .setMetricName("areaUnderROC").evaluate(scored))
    }
    val feats = graft.features.Targets.withTarget(
      graft.features.Features.computeAllFeatures(graft.source.Bars.bars(spark, dir)))
    val (train, test) = MlPipeline.temporalSplit(feats)
    val fcols = graft.features.Features.FeatureCols
    val model = MlPipeline.classifier(maxIter = 3).fit(MlPipeline.assemble(train, fcols))
    val scored = model.transform(MlPipeline.assemble(test, fcols))
    val noPositive = scored.withColumn("prediction", lit(0.0))
    for ((what, frame) <- Seq("trained fold" -> scored, "no positive prediction" -> noPositive)) {
      val (got, want) = (MlPipeline.evaluateClassifier(frame), mllib(frame))
      assert(got.keySet == want.keySet, what)
      for (k <- want.keys)
        assert(math.abs(got(k) - want(k)) <= 1e-12, s"$what $k: ${got(k)} vs MLlib ${want(k)}")
    }
    val none = MlPipeline.evaluateClassifier(noPositive)
    assert(none("precision") == 0.0 && none("recall") == 0.0 && none("f1") == 0.0)
  }

  test("topk_importance is training-deterministic: two trainings, identical top-20") {
    // the registry's single rows-only entry: GBT importances are not
    // ORACLE-reproducible (no cross-engine tree twin), but with the seed
    // pinned (42) and the same input partitioning, two trainings in one
    // JVM must produce the identical ranked top-20 — feature NAMES, ORDER,
    // and bit-exact importance values. This is the determinism proof the
    // rows-only asterisk leans on.
    def run() = graft.queries.Core.topkImportance(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val a = run()
    val b = run()
    assert(a.size == 20, s"expected 20 rows, got ${a.size}")
    assert(a == b,
      s"GBT top-20 importances unstable across identical trainings:\n a=$a\n b=$b")
  }
}
