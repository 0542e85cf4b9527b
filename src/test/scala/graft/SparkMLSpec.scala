package graft

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.evaluation.{MulticlassClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml._

/** The spark.ml composability surface (SURVEY §7.3): the reference
  * inherits sklearn's estimator protocol by subclassing
  * (`core.py:387, 487` — clone/get_params/grid search); the Spark
  * analog is `Estimator`+`Params`, exercised here exactly the way a
  * user would — inside `Pipeline` and `CrossValidator` — plus ML
  * persistence both ways.
  */
class SparkMLSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private def regFrame = (0 until 400).map { i =>
    val x1 = (i % 20).toDouble
    val x2 = ((i * 7) % 11).toDouble
    (x1, x2, 3.0 * x1 - 2.0 * x2 + (i % 3))
  }.toDF("x1", "x2", "y")

  private def clsFrame = (0 until 400).map { i =>
    val x1 = (i % 20).toDouble
    val x2 = ((i * 7) % 11).toDouble
    (x1, x2, if (x1 + x2 > 14) 1.0 else 0.0)
  }.toDF("x1", "x2", "y")

  test("Pipeline(VectorAssembler, GraftXGBRegressorML) fits and scores") {
    val pipe = new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(Array("x1", "x2"))
        .setOutputCol("feats"),
      new GraftXGBRegressorML().setFeaturesCol("feats").setLabelCol("y")
        .setNumRound(8).setMaxDepth(3).setEta(0.3)))
    val model = pipe.fit(regFrame)
    val scored = model.transform(regFrame)
    val rmse = new RegressionEvaluator().setLabelCol("y")
      .setPredictionCol("prediction").setMetricName("rmse")
      .evaluate(scored)
    val sd = regFrame.select(stddev_pop(col("y"))).head().getDouble(0)
    assert(rmse < 0.5 * sd, s"pipeline fit must beat the mean: $rmse vs $sd")
  }

  test("CrossValidator sweeps a param grid over the classifier adapter") {
    val est = new GraftXGBClassifierML().setLabelCol("y")
      .setNumRound(4).setEta(0.5)
    val pipe = new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(Array("x1", "x2"))
        .setOutputCol("features"),
      est))
    val grid = new ParamGridBuilder()
      .addGrid(est.maxDepth, Array(1, 3))
      .build()
    val cv = new CrossValidator()
      .setEstimator(pipe)
      .setEvaluator(new MulticlassClassificationEvaluator()
        .setLabelCol("y").setPredictionCol("prediction")
        .setMetricName("accuracy"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(2)
      .setSeed(7L)
    val cvModel = cv.fit(clsFrame)
    assert(cvModel.avgMetrics.length == 2)
    // depth 3 separates the additive threshold better than a stump
    val best = cvModel.bestModel
      .asInstanceOf[org.apache.spark.ml.PipelineModel]
      .stages(1).asInstanceOf[GraftXGBModelML]
    assert(best.isClassifier)
    val acc = new MulticlassClassificationEvaluator().setLabelCol("y")
      .setPredictionCol("prediction").setMetricName("accuracy")
      .evaluate(cvModel.transform(clsFrame))
    assert(acc > 0.9, s"cv-selected model must fit the separable data: $acc")
  }

  test("param copy semantics: fit(dataset, paramMap) honors overrides") {
    val df = new VectorAssembler().setInputCols(Array("x1", "x2"))
      .setOutputCol("features").transform(regFrame)
    val est = new GraftXGBRegressorML().setLabelCol("y").setNumRound(2)
    val m1 = est.fit(df)
    val m2 = est.copy(org.apache.spark.ml.param.ParamMap(
      est.numRound -> 6)).fit(df)
    val n1 = m1.inner.model.asInstanceOf[graft.ml.SparseBoost.SparseModel].numRounds
    val n2 = m2.inner.model.asInstanceOf[graft.ml.SparseBoost.SparseModel].numRounds
    assert(n1 == 2 && n2 == 6, s"copy must re-wire numRound: $n1 / $n2")
  }

  test("estimator and fitted model round-trip through ML persistence") {
    val tmp = java.nio.file.Files.createTempDirectory("sparkml").toString
    val est = new GraftXGBClassifierML().setLabelCol("y").setNumRound(5)
      .setMaxDepth(2).setFeaturesCol("feats").setPredictionCol("pred")
    est.write.overwrite().save(s"$tmp/est")
    val estBack = GraftXGBClassifierML.load(s"$tmp/est")
    assert(estBack.getNumRound == 5 && estBack.getMaxDepth == 2 &&
      estBack.getFeaturesCol == "feats")

    val df = new VectorAssembler().setInputCols(Array("x1", "x2"))
      .setOutputCol("feats").transform(clsFrame)
    val model = estBack.fit(df)
    model.write.overwrite().save(s"$tmp/model")
    val back = GraftXGBModelML.load(s"$tmp/model")
    assert(back.isClassifier && back.getPredictionCol == "pred")
    val a = model.transform(df).select(col("pred")).collect().map(_.getDouble(0))
    val b = back.transform(df).select(col("pred")).collect().map(_.getDouble(0))
    assert(a.sameElements(b), "reloaded model must score identically")
    // predict_proba honors the non-default features column too
    val proba = back.transformProba(df).select(col("proba")).head()
      .getSeq[Double](0)
    assert(proba.length == 2 && math.abs(proba.sum - 1.0) < 1e-9)
  }

  test("legacy saved models (adapter_meta-only, no standard metadata) load") {
    // models written before the standard-metadata writer carry uid +
    // column params ONLY in adapter_meta.json; the loader must fall
    // back to those keys instead of failing file-not-found
    val tmp = java.nio.file.Files.createTempDirectory("sparkml_legacy").toString
    val df = new VectorAssembler().setInputCols(Array("x1", "x2"))
      .setOutputCol("feats").transform(clsFrame)
    val model = new GraftXGBClassifierML().setLabelCol("y").setNumRound(5)
      .setMaxDepth(2).setFeaturesCol("feats").setPredictionCol("pred")
      .fit(df)
    model.write.overwrite().save(s"$tmp/model")
    // rewrite the save dir into the legacy shape: drop <path>/metadata,
    // expand adapter_meta.json to the old full key set
    val dir = java.nio.file.Paths.get(s"$tmp/model")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(dir.resolve("metadata")).iterator().asScala
      .toSeq.reverse.foreach(java.nio.file.Files.delete)
    // drop Hadoop LocalFileSystem's sidecar checksum — the rewritten
    // adapter_meta.json must not fail the reader's CRC verification
    java.nio.file.Files.deleteIfExists(dir.resolve(".adapter_meta.json.crc"))
    java.nio.file.Files.writeString(dir.resolve("adapter_meta.json"),
      s"""{"uid":"${model.uid}","isClassifier":true,"featuresCol":"feats",
         |"labelCol":"y","predictionCol":"pred","weightCol":""}"""
        .stripMargin.replace("\n", ""))
    val back = GraftXGBModelML.load(s"$tmp/model")
    assert(back.isClassifier && back.getFeaturesCol == "feats" &&
      back.getPredictionCol == "pred" && back.uid == model.uid)
    val a = model.transform(df).select(col("pred")).collect().map(_.getDouble(0))
    val b = back.transform(df).select(col("pred")).collect().map(_.getDouble(0))
    assert(a.sameElements(b), "legacy-loaded model must score identically")
  }

  test("fitted PipelineModel containing the adapter stage round-trips") {
    // the round-7 gap: PipelineModel.load resolves each stage from
    // <stagePath>/metadata via DefaultParamsReader.loadParamsInstance,
    // so the model writer must emit the standard metadata file — a
    // direct-model round-trip alone never exercises that path
    val tmp = java.nio.file.Files.createTempDirectory("sparkml_pipe").toString
    val pipe = new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(Array("x1", "x2"))
        .setOutputCol("features"),
      new GraftXGBClassifierML().setLabelCol("y").setNumRound(5)
        .setMaxDepth(2)))
    val fitted = pipe.fit(clsFrame)
    fitted.write.overwrite().save(s"$tmp/pipe")
    val back = org.apache.spark.ml.PipelineModel.load(s"$tmp/pipe")
    assert(back.stages(1).isInstanceOf[GraftXGBModelML])
    val a = fitted.transform(clsFrame).select(col("prediction"))
      .collect().map(_.getDouble(0))
    val b = back.transform(clsFrame).select(col("prediction"))
      .collect().map(_.getDouble(0))
    assert(a.sameElements(b), "reloaded pipeline must score identically")
  }

  test("schema validation refuses a missing features column loudly") {
    val est = new GraftXGBRegressorML().setLabelCol("y")
    intercept[IllegalArgumentException](est.fit(regFrame))
  }

  test("model.transform refuses inputs already carrying predictionCol") {
    val df = new VectorAssembler().setInputCols(Array("x1", "x2"))
      .setOutputCol("features").transform(regFrame)
    val model = new GraftXGBRegressorML().setLabelCol("y").setNumRound(2)
      .fit(df)
    intercept[IllegalArgumentException](
      model.transform(df.withColumn("prediction", lit(0.0))))
  }
}
