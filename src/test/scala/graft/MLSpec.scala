package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml._
import graft.ml.GraftBoost._

/** Behavioral suite mirroring the reference's test_core.py layers
  * (SURVEY §5): train/predict smoke on a literal frame, accuracy
  * tolerance on separable data (the reference's distributed-vs-local
  * oracle becomes partitioning-invariance tolerance), weights
  * changing the model, early stopping, eval history, multiclass
  * shapes, missing-marker handling.
  */
class MLSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  // Separable synthetic fixture (load_digits(2) analog): label is a
  // deterministic function of x1 with noise-free margin.
  private lazy val separable = {
    val rows = (0 until 400).map { i =>
      val x1 = (i % 20).toDouble
      val x2 = ((i * 7) % 13).toDouble
      (x1, x2, if (x1 >= 10) 1.0 else 0.0)
    }
    rows.toDF("x1", "x2", "label").cache()
  }

  test("binary train/predict on a literal 10-row frame") {
    val df = Seq(
      (1.0, 0.0), (2.0, 0.0), (3.0, 0.0), (4.0, 0.0), (5.0, 0.0),
      (6.0, 1.0), (7.0, 1.0), (8.0, 1.0), (9.0, 1.0), (10.0, 1.0)
    ).toDF("x", "label")
    val clf = new GraftXGBClassifier().setNEstimators(5).setMaxDepth(2)
    clf.fit(df, Seq("x"), "label")
    val preds = clf.predict(df).select("label", "prediction").collect()
    val correct = preds.count(r => r.getDouble(0).toLong == r.getLong(1))
    assert(correct >= 9, s"expected >=9/10 correct on separable data, got $correct")
    assert(clf.numClasses == 2)
  }

  test("accuracy is partitioning-invariant within tolerance") {
    def accuracy(parts: Int): Double = {
      val df = separable.repartition(parts)
      val m = GraftBoost.train(df, Seq("x1", "x2"), "label",
        BoostParams(numRound = 5, maxDepth = 3))
      val p = GraftBoost.predict(m, separable)
      p.filter(col("prediction") === col("label")).count().toDouble / 400
    }
    val a1 = accuracy(1)
    val a8 = accuracy(8)
    assert(a1 >= 0.95, s"1-partition accuracy $a1")
    assert(a8 >= 0.95, s"8-partition accuracy $a8")
  }

  test("sample weights change the trained model") {
    // make_regression analog (test_core.py:299-337): upweighting a
    // subpopulation must move predictions toward it.
    val df = (0 until 300).map { i =>
      val x = (i % 10).toDouble
      val y = if (i % 3 == 0) x * 10 else x * 2
      val w = if (i % 3 == 0) 100.0 else 1.0
      (x, y, w)
    }.toDF("x", "y", "w")
    val unweighted = new GraftXGBRegressor().setNEstimators(10).setMaxDepth(3).setLearningRate(0.5)
    unweighted.fit(df, Seq("x"), "y")
    val weighted = new GraftXGBRegressor().setNEstimators(10).setMaxDepth(3).setLearningRate(0.5)
    weighted.fit(df, Seq("x"), "y", weightCol = Some("w"))
    val pu = unweighted.predict(df).agg(avg("prediction")).first().getDouble(0)
    val pw = weighted.predict(df).agg(avg("prediction")).first().getDouble(0)
    assert(pw > pu, s"upweighting the x*10 population should raise mean prediction ($pw vs $pu)")
  }

  test("early stopping with a validation frame runs and bounds trees") {
    val train = separable.filter($"x2" =!= 0)
    val valid = separable.filter($"x2" === 0)
    val clf = new GraftXGBClassifier().setNEstimators(30).setMaxDepth(2)
    clf.fit(train, Seq("x1", "x2"), "label", earlyStoppingValidation = Some(valid))
    val rounds = clf.model.get.model.asInstanceOf[SparseBoost.SparseModel].numRounds
    val hist = clf.model.get.evalsResult("validation")("logloss")
    // the objective's logloss with patience 1: the loop stops one round
    // after its best and keeps the best round's forest
    assert(rounds > 0 && rounds <= hist.length && hist.length <= 30)
    assert(rounds == StagedEval.bestIteration(hist, "logloss"))
    assert(hist.length == 30 || StagedEval.stalledAt(hist, "logloss", 1).contains(hist.length))
  }

  test("evals_result history has one entry per boosting round") {
    val clf = new GraftXGBClassifier().setNEstimators(7).setMaxDepth(2)
    clf.fit(separable, Seq("x1", "x2"), "label",
      evalSets = Map("validation_0" -> separable))
    val hist = clf.evalsResult("validation_0")("logloss")
    assert(hist.length == 7, s"expected 7 rounds of history, got ${hist.length}")
  }

  test("multiclass: objective rewrite, class count, proba shape") {
    val df = (0 until 300).map { i =>
      val c = i % 3
      (c * 10.0 + (i % 5), (i % 7).toDouble, c.toDouble)
    }.toDF("x1", "x2", "label")
    val clf = new GraftXGBClassifier().setNEstimators(10).setMaxDepth(3)
      .setMulticlassStrategy("rf")
    clf.fit(df, Seq("x1", "x2"), "label")
    assert(clf.numClasses == 3)
    val proba = clf.predictProba(df).select("proba").first().getSeq[Double](0)
    assert(proba.length == 3)
    assert(math.abs(proba.sum - 1.0) < 1e-6)
    val preds = clf.predict(df).select("label", "prediction").collect()
    val acc = preds.count(r => r.getDouble(0).toLong == r.getLong(1)).toDouble / preds.length
    assert(acc >= 0.95, s"multiclass accuracy $acc")
  }

  test("multiclass via OneVsRest boosting also trains") {
    val df = (0 until 150).map { i =>
      val c = i % 3
      (c * 10.0 + (i % 5), c.toDouble)
    }.toDF("x1", "label")
    val clf = new GraftXGBClassifier().setNEstimators(3).setMaxDepth(2)
    clf.fit(df, Seq("x1"), "label")
    assert(clf.numClasses == 3)
    val acc = clf.predict(df).filter($"prediction" === $"label".cast("long")).count().toDouble / 150
    assert(acc >= 0.9, s"ovr accuracy $acc")
    // predict_proba shape contract holds for the OvR path too
    val proba = clf.predictProba(df).select("proba").first().getSeq[Double](0)
    assert(proba.length == 3)
    assert(math.abs(proba.sum - 1.0) < 1e-9, s"softmax rows must sum to 1: $proba")
  }

  test("missing-marker imputation trains and scores") {
    val df = (0 until 200).map { i =>
      val x = if (i % 10 == 0) -999.0 else (i % 20).toDouble
      (x, if (i % 20 >= 10 && x != -999.0) 1.0 else 0.0)
    }.toDF("x", "label")
    val clf = new GraftXGBClassifier().setNEstimators(5).setMaxDepth(2).setMissing(-999.0)
    clf.fit(df, Seq("x"), "label")
    assert(clf.predict(df).count() == 200)
  }

  test("missing-marker imputation is applied at scoring time too") {
    // train/serve parity: scoring a frame containing the marker must
    // behave as if the marker were replaced by the TRAINING means
    val df = (0 until 200).map { i =>
      val x = if (i % 10 == 0) -999.0 else (i % 20).toDouble
      (x, if (i % 20 >= 10 && x != -999.0) 1.0 else 0.0)
    }.toDF("x", "label")
    val clf = new GraftXGBClassifier().setNEstimators(5).setMaxDepth(2).setMissing(-999.0)
    clf.fit(df, Seq("x"), "label")
    val means = clf.model.get.imputation.get._2
    val manual = df.withColumn("x",
      when($"x" === -999.0, means("x")).otherwise($"x"))
    val viaModel = clf.predict(df).select("label", "prediction").collect().toSeq
    val viaManual = clf.predict(manual).select("label", "prediction").collect().toSeq
    assert(viaModel == viaManual,
      "scoring with raw markers must equal scoring pre-imputed data")
  }

  test("feature_importances_: distributed ≈ local, signal feature dominates (test_core.py:57)") {
    def importances(parts: Int): Map[String, Double] = {
      val clf = new GraftXGBClassifier().setNEstimators(5).setMaxDepth(3)
      clf.fit(separable.repartition(parts), Seq("x1", "x2"), "label")
      clf.featureImportances
    }
    val local = importances(1)
    val dist = importances(8)
    for (m <- Seq(local, dist)) {
      assert(math.abs(m.values.sum - 1.0) < 1e-6, s"importances must sum to 1: $m")
      assert(m("x1") > m("x2"),
        s"x1 carries the label signal and must dominate: $m")
    }
    // distributed ≡ local within tolerance (the reference asserts
    // exact equality; MLlib histogram order can differ slightly)
    assert(math.abs(local("x1") - dist("x1")) < 0.2,
      s"distributed ${dist("x1")} vs local ${local("x1")}")
  }

  test("feature_importances_ for OvR multiclass averages per-class models") {
    val df = (0 until 150).map { i =>
      val c = i % 3
      (c * 10.0 + (i % 5), (i % 7).toDouble, c.toDouble)
    }.toDF("x1", "x2", "label")
    val clf = new GraftXGBClassifier().setNEstimators(3).setMaxDepth(2)
    clf.fit(df, Seq("x1", "x2"), "label")
    val imp = clf.featureImportances
    assert(math.abs(imp.values.sum - 1.0) < 1e-6)
    assert(imp("x1") > imp("x2"))
  }

  test("missingStrategy=sentinel: marker handling changes the model (test_core.py:365-382)") {
    // the reference's own assertion: training WITH missing-marker
    // handling differs from training that treats the marker as a
    // real value. Marker -999 placed on rows whose x would otherwise
    // be strongly informative.
    val df = (0 until 200).map { i =>
      val x = if (i % 4 == 0) -999.0 else (i % 20).toDouble
      (x, if (i % 20 >= 10) 1.0 else 0.0)
    }.toDF("x", "label")
    val naive = new GraftXGBClassifier().setNEstimators(5).setMaxDepth(3)
    naive.fit(df, Seq("x"), "label")
    val sent = new GraftXGBClassifier().setNEstimators(5).setMaxDepth(3)
      .setMissing(-999.0).setMissingStrategy("sentinel")
    sent.fit(df, Seq("x"), "label")
    assert(sent.predict(df).count() == 200)
    // the marker must not shape the trees as a real value: the naive
    // model needs sub-zero thresholds to wall off -999; the sentinel
    // model sees only [0, 19] ∪ {sentinel} and must have none
    def thresholds(c: GraftXGBClassifier): Seq[Double] =
      c.model.get.model.asInstanceOf[SparseBoost.SparseModel].trees.toSeq
        .flatMap(t => t.feature.indices.filter(t.feature(_) >= 0).map(t.thresh(_)))
    assert(thresholds(naive).exists(_ < 0.0),
      "naive model should split below zero to separate the -999 'value'")
    assert(thresholds(sent).forall(_ >= 0.0),
      s"sentinel model must not inherit marker-shaped thresholds: ${thresholds(sent)}")
    // sentinel sits strictly beyond the observed non-marker range, so
    // splits can isolate the missing group instead of blending it
    val sentinel = sent.model.get.imputation.get._2("x")
    assert(sentinel > 19.0, s"sentinel $sentinel must exceed observed max 19")
    // serve parity: raw marker frame ≡ manually substituted frame
    val manual = df.withColumn("x", when($"x" === -999.0, sentinel).otherwise($"x"))
    assert(sent.predict(df).select("prediction").collect().map(_.getLong(0)).toSeq ==
      sent.predict(manual).select("prediction").collect().map(_.getLong(0)).toSeq)
  }

  test("predictLocal applies the model's missing-marker preprocessing") {
    import org.apache.spark.ml.linalg.Vectors
    val df = (0 until 200).map { i =>
      val x = if (i % 10 == 0) -999.0 else (i % 20).toDouble
      (x, if (i % 20 >= 10 && x != -999.0) 1.0 else 0.0)
    }.toDF("x", "label")
    for (strategy <- Seq("impute", "sentinel")) {
      val clf = new GraftXGBClassifier().setNEstimators(5).setMaxDepth(2)
        .setMissing(-999.0).setMissingStrategy(strategy)
      clf.fit(df, Seq("x"), "label")
      val m = clf.model.get
      val distributed = GraftBoost.predict(m, Seq((-999.0, 0.0)).toDF("x", "label"))
        .select("prediction").first().getDouble(0)
      val local = GraftBoost.predictLocal(m, Vectors.dense(-999.0))
      assert(local == distributed,
        s"strategy=$strategy: local $local must equal distributed $distributed on a marker row")
    }
  }

  test("multiclass evals_result: mlogloss/merror history per round (core.py:120)") {
    val df = (0 until 300).map { i =>
      val c = i % 3
      (c * 10.0 + (i % 5), (i % 7).toDouble, c.toDouble)
    }.toDF("x1", "x2", "label")
    val clf = new GraftXGBClassifier().setNEstimators(4).setMaxDepth(2)
    clf.fit(df, Seq("x1", "x2"), "label", evalSets = Map("validation_0" -> df))
    val hist = clf.evalsResult("validation_0")
    assert(hist("mlogloss").length == 4, s"mlogloss rounds: ${hist("mlogloss").length}")
    assert(hist("merror").length == 4)
    // training-set fit improves over rounds on separable data
    assert(hist("mlogloss").last <= hist("mlogloss").head,
      s"mlogloss should not get worse on train data: ${hist("mlogloss").toSeq}")
    assert(hist("merror").last <= 0.05, s"final merror ${hist("merror").last}")
  }

  test("predictLocal on an OvR multiclass model matches the distributed argmax") {
    import org.apache.spark.ml.linalg.Vectors
    val df = (0 until 150).map { i =>
      val c = i % 3
      (c * 10.0 + (i % 5), c.toDouble)
    }.toDF("x1", "label")
    val clf = new GraftXGBClassifier().setNEstimators(3).setMaxDepth(2)
    clf.fit(df, Seq("x1"), "label")
    val m = clf.model.get
    val probes = Seq(1.0, 12.0, 23.0)
    val dist = GraftBoost.predict(m, probes.map(Tuple1(_)).toDF("x1"))
      .select("prediction").collect().map(_.getDouble(0)).toSeq
    val local = probes.map(x => GraftBoost.predictLocal(m, Vectors.dense(x)))
    assert(local == dist, s"local $local vs distributed $dist")
  }

  test("Platt calibration turns OvR margins into better probabilities (lower mlogloss)") {
    val df = (0 until 300).map { i =>
      val c = i % 3
      (c * 10.0 + (i % 5), (i % 7).toDouble, c.toDouble)
    }.toDF("x1", "x2", "label")
    val clf = new GraftXGBClassifier().setNEstimators(5).setMaxDepth(2)
    clf.fit(df, Seq("x1", "x2"), "label")
    def mlogloss(proba: org.apache.spark.sql.DataFrame): Double = {
      val rows = proba.select("label", "proba").collect()
      rows.map { r =>
        val p = r.getSeq[Double](1)(r.getDouble(0).toInt)
        -math.log(math.max(p, 1e-15))
      }.sum / rows.length
    }
    val uncal = mlogloss(clf.predictProba(df))
    clf.calibrateProba(df, "label")
    val proba = clf.predictProba(df)
    // validity: every row sums to 1, values in [0, 1]
    val bad = proba.select("proba").collect().count { r =>
      val p = r.getSeq[Double](0)
      math.abs(p.sum - 1.0) > 1e-9 || p.exists(x => x < 0 || x > 1)
    }
    assert(bad == 0)
    val cal = mlogloss(proba)
    assert(cal < uncal,
      s"calibrated mlogloss $cal should beat softmax-of-margins $uncal")
    // calibration survives persistence
    val tmp = java.nio.file.Files.createTempDirectory("graft_cal").toString + "/m"
    ModelIO.save(spark, clf.model.get, tmp)
    val back = ModelIO.load(spark, tmp)
    assert(back.calibration.isDefined)
    val calBack = mlogloss(GraftBoost.predictProba(back, df))
    assert(math.abs(calBack - cal) < 1e-9)
  }

  test("OvR+Platt is the FINAL multiclass mechanism: held-out mlogloss within " +
      "a pinned bound of RandomForest probabilities") {
    // noisy 3-class data with a held-out test split — the quality gate
    // of OvR+Platt, the default multiclass strategy (the reference's
    // single-model softprob is multiclassStrategy = "softprob")
    import MLTestFixtures.{multiclassTrain => train, multiclassHeldOut => heldOut, mlogloss}
    val ovr = new GraftXGBClassifier().setNEstimators(8).setMaxDepth(3)
    ovr.fitCalibrated(train, Seq("x1", "x2"), "label")
    val rf = new GraftXGBClassifier().setNEstimators(8).setMaxDepth(3)
      .setMulticlassStrategy("rf")
    rf.fit(train, Seq("x1", "x2"), "label")
    val mOvr = mlogloss(ovr.predictProba(heldOut))
    val mRf = mlogloss(rf.predictProba(heldOut))
    // pinned bound: calibrated OvR held-out quality must stay within
    // 25% of the RF alternative (deterministic seeds — this is a
    // regression pin, not a flaky benchmark)
    assert(mOvr <= mRf * 1.25,
      s"OvR+Platt held-out mlogloss $mOvr vs RandomForest $mRf — " +
        "the documented-final mechanism regressed past the pinned bound")
  }

  test("packageEvals mirrors _package_evals naming; length mismatch fails loudly (test_core.py:149-170)") {
    val a = Seq((1.0, 0.0)).toDF("x", "label")
    val b = Seq((2.0, 1.0), (3.0, 0.0)).toDF("x", "label")
    // 2 sets, no weights → 2 packaged sets named validation_0/1
    val p0 = Estimators.packageEvals(Seq(a, b))
    assert(p0.sets.keySet == Set("validation_0", "validation_1"))
    assert(p0.weights.isEmpty)
    assert(p0.sets("validation_1").count() == 2)
    // 2 sets, 2 weights → both weighted
    val p1 = Estimators.packageEvals(Seq(a, b), Some(Seq(Some("w"), Some("w2"))))
    assert(p1.weights == Map("validation_0" -> "w", "validation_1" -> "w2"))
    // 2 sets, 1 weight: the reference zip-truncates to ONE set
    // (test_core.py:166-170 asserts len == 1) — silent data loss we
    // deliberately reject; the error names the quirk
    val e = intercept[IllegalArgumentException] {
      Estimators.packageEvals(Seq(a, b), Some(Seq(Some("w"))))
    }
    assert(e.getMessage.contains("zip-truncates"))
  }

  test("weighted eval history: weights move the metric, uniform scaling doesn't") {
    // two flipped labels in the up-weighted region: on the separable
    // frame alone a Newton forest's two leaves are mirror images, every
    // row scores the same loss, and no weighting can move the mean
    val df = separable
      .withColumn("label", when(col("x1") === 0.0 && col("x2") === 0.0, 1.0)
        .otherwise(col("label")))
      .withColumn("w", when(col("x1") < 5, 100.0).otherwise(1.0))
      .withColumn("w2", (when(col("x1") < 5, 100.0).otherwise(1.0)) * 3.0)
    val pkg = Estimators.packageEvals(Seq(df, df, df),
      Some(Seq(None, Some("w"), Some("w2"))))
    val clf = new GraftXGBClassifier().setNEstimators(3).setMaxDepth(2)
    clf.fit(df, Seq("x1", "x2"), "label",
      evalSets = pkg.sets, evalWeights = pkg.weights)
    val plain = clf.evalsResult("validation_0")("logloss")
    val wtd = clf.evalsResult("validation_1")("logloss")
    val wtd3 = clf.evalsResult("validation_2")("logloss")
    assert(plain.length == 3 && wtd.length == 3)
    assert(plain.zip(wtd).exists { case (p, w) => math.abs(p - w) > 1e-12 },
      "skewed weights must change the weighted logloss history")
    wtd.zip(wtd3).foreach { case (w, w3) =>
      assert(math.abs(w - w3) < 1e-9, "weighted metrics are scale-invariant")
    }
  }

  test("predict_proba rejects ntree_limit loudly (core.py:626-631 parity)") {
    val clf = new GraftXGBClassifier().setNEstimators(2).setMaxDepth(2)
    clf.fit(separable, Seq("x1", "x2"), "label")
    val e = intercept[IllegalArgumentException] {
      clf.predictProba(separable, ntreeLimit = Some(1))
    }
    assert(e.getMessage.contains("ntree_limit"))
    assert(e.getMessage.contains("truncateToBest"),
      "the reject must point at the supported truncation path")
  }

  test("calibrationSplit is deterministic, disjoint, and ≈ the asked fraction") {
    val df = (0 until 1000).map(i => (i.toLong, (i % 37).toDouble)).toDF("id", "x")
    val (tr1, cal1) = GraftBoost.calibrationSplit(df, 0.2)
    val (tr2, cal2) = GraftBoost.calibrationSplit(df.repartition(7), 0.2)
    val c1 = cal1.select("id").collect().map(_.getLong(0)).toSet
    val c2 = cal2.select("id").collect().map(_.getLong(0)).toSet
    assert(c1 == c2, "split must not depend on partitioning")
    assert(tr1.count() + cal1.count() == 1000)
    assert(tr1.select("id").collect().map(_.getLong(0)).toSet.intersect(c1).isEmpty)
    assert(c1.size > 120 && c1.size < 280, s"cal fraction off: ${c1.size}/1000")
  }

  test("held-out calibration beats calibrate-on-train on fresh data (test mlogloss)") {
    // noisy data + deep trees: the fit memorizes label noise, so
    // TRAIN margins look far more separable than fresh-data margins —
    // exactly the regime where calibrate-on-train learns too-steep
    // sigmoids and held-out calibration must win
    val rnd = new scala.util.Random(7)
    def mk(n: Int) = (0 until n).map { _ =>
      val c = rnd.nextInt(3)
      val label = if (rnd.nextDouble() < 0.3) rnd.nextInt(3) else c
      (c * 3.0 + rnd.nextGaussian() * 2.5, rnd.nextDouble() * 5.0, label.toDouble)
    }.toDF("x1", "x2", "label")
    val fitDf = mk(500).cache()
    val testDf = mk(600).cache()
    val (train, cal) = GraftBoost.calibrationSplit(fitDf, 0.3)
    val clf = new GraftXGBClassifier().setNEstimators(12).setMaxDepth(5)
    clf.fit(train, Seq("x1", "x2"), "label")
    val base = clf.model.get
    def mlogloss(m: GraftBoostModel): Double = {
      val rows = GraftBoost.predictProba(m, testDf).select("label", "proba").collect()
      rows.map { r =>
        -math.log(math.max(r.getSeq[Double](1)(r.getDouble(0).toInt), 1e-15))
      }.sum / rows.length
    }
    val onTrain = mlogloss(GraftBoost.calibrate(base, train, "label"))
    val heldOut = mlogloss(GraftBoost.calibrate(base, cal, "label"))
    assert(heldOut <= onTrain + 1e-9,
      s"held-out calibration ($heldOut) should not lose to " +
      s"calibrate-on-train ($onTrain) on fresh data")
    // the convenience wrapper produces a calibrated model end-to-end
    val viaHelper = new GraftXGBClassifier().setNEstimators(6).setMaxDepth(3)
      .fitCalibrated(fitDf, Seq("x1", "x2"), "label", calFraction = 0.3)
    assert(viaHelper.model.get.calibration.isDefined)
  }

  test("ml queries registered in SparkEntry run at sf0.001") {
    Seq("ml_binary_train_predict", "ml_regression_train_predict", "ml_multiclass_embeddings")
      .foreach { q =>
        assert(SparkEntry.queries(q)(spark, sf).count() > 0, s"$q empty")
      }
  }

  test("rolling-origin CV: forward-chaining discipline and dense recompute") {
    import graft.ml.MLQueries.{RollingFolds, RollingStrideMonths}
    val orders = graft.sources.Tables(spark, sf).orders
      .select(col("o_orderdate"), col("o_totalprice"))
      .collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0), r.getDouble(1)))
    val cal = java.time.LocalDateTime.of(1998, 1, 1, 0, 0)
    val rows = SparkEntry.queries("ml_cv_rolling_origin")(spark, sf).collect()
    assert(rows.length == RollingFolds)
    var prevTrain = -1L
    rows.foreach { r =>
      val fold = r.getLong(0)
      val origin = cal.plusMonths((fold - 1) * RollingStrideMonths)
      val hEnd = cal.plusMonths(fold * RollingStrideMonths)
      val train = orders.filter(_._1.isBefore(origin))
      val test = orders.filter(o =>
        !o._1.isBefore(origin) && o._1.isBefore(hEnd))
      assert(r.getLong(2) == train.length, s"fold $fold n_train")
      assert(r.getLong(3) == test.length, s"fold $fold n_test")
      def avg(xs: Array[(java.time.LocalDateTime, Double)]): Double =
        xs.map(x => BigDecimal(x._2).setScale(2, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble / xs.length
      assert(r.getDouble(4) == avg(train), s"fold $fold train avg")
      assert(r.getDouble(5) == avg(test), s"fold $fold test avg")
      // forward chaining: train sets strictly grow, never see the horizon
      assert(train.length > prevTrain, "train must grow with the origin")
      prevTrain = train.length
      assert(train.forall(_._1.isBefore(origin)) &&
        test.forall(o => !o._1.isBefore(origin)))
    }
  }

  test("permutation importance: gates hold and all features are scored") {
    val rows = SparkEntry.queries("ml_permutation_importance")(spark, sf)
      .collect()
    assert(rows.map(_.getString(0)).toSeq ==
      graft.ml.MLQueries.PermutationFeatures.sorted, "feature rows")
    rows.foreach { r =>
      assert(r.getBoolean(2), s"noise floor ${r.getString(0)}")
      assert(r.getBoolean(3), "some feature must matter")
      assert(r.getLong(1) > 0L)
    }
  }

  test("eval sets on a native-missing fit get per-round histories") {
    val marked = separable.withColumn("x2",
      when($"x1" % 5 === 0, lit(-999.0)).otherwise($"x2"))
    val clf = new GraftXGBClassifier().setNEstimators(4).setMaxDepth(2)
      .setMissing(-999.0).setMissingStrategy("native")
    clf.fit(marked, Seq("x1", "x2"), "label", evalSets = Map("validation_0" -> marked))
    val ll = clf.evalsResult("validation_0")("logloss")
    assert(ll.length == 4 && ll.last < ll.head, ll.toSeq)
    val reg = new GraftXGBRegressor().setNEstimators(4).setMaxDepth(2)
      .setMissing(-999.0).setMissingStrategy("native")
    reg.fit(marked, Seq("x1", "x2"), "x1", evalSets = Map("validation_0" -> marked))
    val mse = reg.evalsResult("validation_0")("squarederror")
    // the unweighted regressor key is the per-round MSE
    val rmse = StagedEval.history(reg.model.get, marked, "x1", "rmse")
    assert(mse.length == 4)
    mse.zip(rmse).foreach { case (a, b) => assert(math.abs(a - b * b) <= 1e-9 * (1 + a)) }
  }
}
