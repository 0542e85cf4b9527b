package graft

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml._
import graft.ml.GraftBoost._

/** Input-type matrix + lifecycle parity (SURVEY §7.4, §5 behavioral
  * layer): sparse vectors (the reference's CSR tests,
  * test_core.py:415-441), CSV ingest round-trip, model persistence,
  * and the negative paths (unsupported objective, predict before
  * fit, idempotent re-training).
  */
class MLInputSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("sparse vector features train and score (CSR-test analog)") {
    val rows = (0 until 200).map { i =>
      val label = (i % 2).toDouble
      // sparse 20-dim vector: feature (i%2) carries the signal
      val v = Vectors.sparse(20, Array(i % 2, 10 + (i % 5)), Array(5.0 + label, 1.0))
      (v, label)
    }
    val df = rows.toDF("features", "label")
    val m = GraftBoost.train(df, Seq("features"), "label",
      BoostParams(numRound = 5, maxDepth = 2))
    val acc = GraftBoost.predict(m, df)
      .filter(col("prediction") === col("label")).count().toDouble / 200
    assert(acc >= 0.95, s"sparse-input accuracy $acc")
  }

  test("CSV ingest round-trips and feeds training (reference canonical flow)") {
    val t = graft.sources.Tables(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString
    t.lineitem
      .select("l_quantity", "l_extendedprice", "l_discount", "l_returnflag")
      .write.mode("overwrite").option("header", "true").csv(tmp)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(tmp)
    assert(back.count() == t.lineitem.count())
    val df = back.withColumn("label", (col("l_returnflag") === "R").cast("double"))
    val m = GraftBoost.train(df, Seq("l_quantity", "l_extendedprice", "l_discount"),
      "label", BoostParams(numRound = 3, maxDepth = 2))
    assert(GraftBoost.predict(m, df).count() == back.count())
  }

  test("model persistence round-trip preserves predictions") {
    val df = (0 until 100).map(i => ((i % 10).toDouble, (i % 2).toDouble))
      .toDF("x", "label")
    val clf = new GraftXGBClassifier().setNEstimators(5).setMaxDepth(2)
    clf.fit(df, Seq("x"), "label")
    val before = clf.predict(df).select("x", "prediction")
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val tmp = java.nio.file.Files.createTempDirectory("graft_model").toString + "/m"
    ModelIO.save(spark, clf.model.get, tmp)
    val after = GraftBoost.predict(ModelIO.load(spark, tmp), df)
      .withColumn("prediction", col("prediction").cast("long"))
      .select("x", "prediction")
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(before == after)
  }

  test("ModelIO round-trip: reloaded model keeps imputation and scores marker rows identically") {
    val df = (0 until 200).map { i =>
      val x = if (i % 10 == 0) -999.0 else (i % 20).toDouble
      (x, if (i % 20 >= 10 && x != -999.0) 1.0 else 0.0)
    }.toDF("x", "label")
    val clf = new GraftXGBClassifier().setNEstimators(5).setMaxDepth(2).setMissing(-999.0)
    clf.fit(df, Seq("x"), "label", evalSets = Map("validation_0" -> df))
    val m = clf.model.get.copy(evalsResult = clf.evalsResult)
    val tmp = java.nio.file.Files.createTempDirectory("graft_modelio").toString + "/m"
    ModelIO.save(spark, m, tmp)
    val back = ModelIO.load(spark, tmp)
    assert(back.featureCols == Seq("x"))
    assert(back.objective == "binary:logistic")
    assert(back.numClasses == 2)
    assert(back.imputation == m.imputation, "imputation means must survive the round-trip")
    assert(back.evalsResult("validation_0")("logloss").toSeq ==
      m.evalsResult("validation_0")("logloss").toSeq)
    val before = GraftBoost.predict(m, df).select("x", "prediction")
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    val after = GraftBoost.predict(back, df).select("x", "prediction")
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    assert(before == after, "reloaded model must score marker-containing rows identically")
  }

  test("ModelIO round-trips an OvR multiclass model") {
    val df = (0 until 150).map { i =>
      val c = i % 3
      (c * 10.0 + (i % 5), c.toDouble)
    }.toDF("x1", "label")
    val clf = new GraftXGBClassifier().setNEstimators(3).setMaxDepth(2)
    clf.fit(df, Seq("x1"), "label")
    val tmp = java.nio.file.Files.createTempDirectory("graft_modelio_ovr").toString + "/m"
    ModelIO.save(spark, clf.model.get, tmp)
    val back = ModelIO.load(spark, tmp)
    assert(back.numClasses == 3)
    val before = clf.predict(df).select("prediction").collect().map(_.getLong(0)).toSeq
    val after = GraftBoost.predict(back, df)
      .select(col("prediction").cast("long")).collect().map(_.getLong(0)).toSeq
    assert(before == after)
  }

  test("unsupported objective raises") {
    val df = Seq((1.0, 0.0)).toDF("x", "label")
    intercept[IllegalArgumentException] {
      GraftBoost.train(df, Seq("x"), "label", BoostParams(objective = "rank:pairwise"))
    }
  }

  test("predict before fit raises (reference sklearn contract)") {
    val df = Seq((1.0, 0.0)).toDF("x", "label")
    intercept[IllegalStateException] {
      new GraftXGBClassifier().predict(df)
    }
  }

  test("re-training the same estimator twice works (test_core.py:348 analog)") {
    val df = (0 until 100).map(i => ((i % 10).toDouble, (i % 2).toDouble))
      .toDF("x", "label")
    val clf = new GraftXGBClassifier().setNEstimators(3).setMaxDepth(2)
    clf.fit(df, Seq("x"), "label")
    val first = clf.predict(df).count()
    clf.fit(df, Seq("x"), "label")
    assert(clf.predict(df).count() == first)
  }

  test("malformed input: missing feature column fails analysis, not silently") {
    val df = Seq((1.0, 0.0)).toDF("x", "label")
    intercept[Exception] {
      GraftBoost.train(df, Seq("nope"), "label", BoostParams(numRound = 1))
    }
  }

  test("ModelIO refuses an MLlib GBT artifact by its class name") {
    val df = (0 until 100).map(i => ((i % 10).toDouble, (i % 2).toDouble))
      .toDF("x", "label")
    val clf = new GraftXGBClassifier().setNEstimators(2).setMaxDepth(2)
    clf.fit(df, Seq("x"), "label")
    val tmp = java.nio.file.Files.createTempDirectory("graft_modelio_gbt").toString + "/m"
    ModelIO.save(spark, clf.model.get, tmp)
    // the metadata an earlier build wrote beside an MLlib GBT model
    val meta = java.nio.file.Paths.get(tmp, "graft_meta.json")
    val gbt = "org.apache.spark.ml.classification.GBTClassificationModel"
    java.nio.file.Files.writeString(meta, java.nio.file.Files.readString(meta)
      .replaceFirst("\"modelClass\":\"[^\"]*\"", s"\"modelClass\":\"$gbt\""))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tmp, ".graft_meta.json.crc"))
    val e = intercept[UnsupportedOperationException](ModelIO.load(spark, tmp))
    assert(e.getMessage.contains(gbt) && e.getMessage.contains("retrain"), e.getMessage)
  }
}
