package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml._
import graft.ml.GraftBoost._

/** True single-model multi:softprob boosting ([[Objective.Softprob]]) —
  * the mechanism-parity close of the reference's `core.py:580-590`:
  * K trees per round on shared multinomial softmax gradients with
  * Newton leaves (the native histogram grower), vs. the OvR/RF
  * capability-equivalents the engine also ships.
  */
class SoftprobSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  // 3-class toy with class overlap — the shared quality-pin fixture
  import MLTestFixtures.{multiclassTrain => train, multiclassHeldOut => heldOut,
    mlogloss, accuracy}

  test("softprob trains one joint forest: K trees per round, train mlogloss decreases") {
    val clf = new GraftXGBClassifier().setNEstimators(8).setMaxDepth(3)
      .setMulticlassStrategy("softprob")
    clf.fit(train, Seq("x1", "x2"), "label")
    val sp = clf.model.get.model.asInstanceOf[MultiSparse.MultiSparseModel]
    assert(sp.trees.length == 8 * 3 && sp.numRounds == 8 &&
      sp.treeInfo.toSeq == (0 until 24).map(_ % 3),
      "forest must be rounds x classes, round-major")
    val hist = clf.model.get.evalsResult("train")("mlogloss")
    assert(hist.length == 8)
    assert(hist.last < hist.head,
      s"train mlogloss must decrease: ${hist.head} -> ${hist.last}")
    assert(hist.head < math.log(3.0) + 0.05,
      "round-1 loss must already beat the uniform prior")
  }

  test("softprob held-out quality: probabilities sum to 1, beats uniform, accuracy competitive") {
    val sp = new GraftXGBClassifier().setNEstimators(10).setMaxDepth(3)
      .setMulticlassStrategy("softprob")
    sp.fit(train, Seq("x1", "x2"), "label")
    val proba = sp.predictProba(heldOut).cache()
    val sums = proba.select(aggregate(col("proba"), lit(0.0), (a, x) => a + x))
      .collect().map(_.getDouble(0))
    assert(sums.forall(s => math.abs(s - 1.0) < 1e-9), "softmax must normalize")
    val mSp = mlogloss(proba)
    assert(mSp < math.log(3.0), s"held-out mlogloss $mSp must beat uniform")
    // accuracy within 5 points of the RF alternative on the same data
    val rf = new GraftXGBClassifier().setNEstimators(10).setMaxDepth(3)
      .setMulticlassStrategy("rf")
    rf.fit(train, Seq("x1", "x2"), "label")
    val accSp = accuracy(sp.predict(heldOut).withColumn("prediction",
      col("prediction").cast("double")))
    val accRf = accuracy(rf.predict(heldOut).withColumn("prediction",
      col("prediction").cast("double")))
    assert(accSp >= accRf - 0.05,
      s"softprob accuracy $accSp vs RF $accRf — joint boosting regressed")
    proba.unpersist(false)
  }

  test("eval-set history via the staged forest walk; merror matches accuracy") {
    val clf = new GraftXGBClassifier().setNEstimators(6).setMaxDepth(3)
      .setMulticlassStrategy("softprob")
    clf.fit(train, Seq("x1", "x2"), "label",
      evalSets = Map("validation_0" -> heldOut))
    val h = clf.evalsResult("validation_0")
    assert(h("mlogloss").length == 6 && h("merror").length == 6)
    assert(h("mlogloss").last < h("mlogloss").head)
    // final-round merror == 1 - accuracy of the full model's predict
    val acc = accuracy(clf.predict(heldOut).withColumn("prediction",
      col("prediction").cast("double")))
    assert(math.abs(h("merror").last - (1.0 - acc)) < 1e-9,
      s"staged final merror ${h("merror").last} vs 1-acc ${1.0 - acc}")
  }

  test("model sink round-trip: a loaded softprob forest scores identically") {
    val clf = new GraftXGBClassifier().setNEstimators(4).setMaxDepth(2)
      .setMulticlassStrategy("softprob")
    clf.fit(train, Seq("x1", "x2"), "label")
    val dir = java.nio.file.Files.createTempDirectory("softprob_io").toString
    ModelIO.save(spark, clf.model.get, dir)
    val loaded = ModelIO.load(spark, dir)
    assert(loaded.numClasses == 3)
    val a = GraftBoost.predictProba(clf.model.get, heldOut)
      .select("proba").collect().map(_.getSeq[Double](0))
    val b = GraftBoost.predictProba(loaded, heldOut)
      .select("proba").collect().map(_.getSeq[Double](0))
    assert(a.zip(b).forall { case (x, y) => x == y },
      "loaded forest must reproduce probabilities bit-for-bit")
    // the artifact states the mechanism, not the OvR approximation
    val meta = scala.io.Source.fromFile(s"$dir/graft_meta.json", "UTF-8").mkString
    assert(meta.contains("single-model softprob"), meta)
  }

  test("predictLocal matches the distributed argmax") {
    val clf = new GraftXGBClassifier().setNEstimators(5).setMaxDepth(3)
      .setMulticlassStrategy("softprob")
    clf.fit(train, Seq("x1", "x2"), "label")
    val m = clf.model.get
    val rs = heldOut.select("x1", "x2").collect()
    val dist = GraftBoost.predict(m, heldOut).select("prediction")
      .collect().map(_.getDouble(0))
    rs.zip(dist).foreach { case (r, d) =>
      val local = GraftBoost.predictLocal(m,
        org.apache.spark.ml.linalg.Vectors.dense(r.getDouble(0), r.getDouble(1)))
      assert(local == d, s"local $local vs distributed $d on $r")
    }
  }

  test("feature importances: the signal feature dominates the joint forest") {
    val clf = new GraftXGBClassifier().setNEstimators(6).setMaxDepth(3)
      .setMulticlassStrategy("softprob")
    clf.fit(train, Seq("x1", "x2"), "label")
    val imp = GraftBoost.featureImportances(clf.model.get)
    assert(imp("x1") > imp("x2"),
      s"x1 carries the classes; importances $imp")
    assert(math.abs(imp.values.sum - 1.0) < 1e-9)
  }

  test("sample weights move the softprob forest") {
    val w1 = train.withColumn("w", lit(1.0))
    val w2 = train.withColumn("w",
      when(col("label") === 0.0, 10.0).otherwise(0.1))
    def probs(df: org.apache.spark.sql.DataFrame) = {
      val c = new GraftXGBClassifier().setNEstimators(4).setMaxDepth(2)
        .setMulticlassStrategy("softprob")
      c.fit(df, Seq("x1", "x2"), "label", weightCol = Some("w"))
      c.predictProba(heldOut).select("proba").collect().map(_.getSeq[Double](0))
    }
    val (a, b) = (probs(w1), probs(w2))
    assert(a.zip(b).exists { case (x, y) => x != y },
      "upweighting class 0 must change the trained forest")
  }

  test("a fit puts the caller's job description back, also when it fails") {
    val sc = spark.sparkContext
    def description = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("caller: boosting fits")
    try {
      GraftBoost.train(train, Seq("x1", "x2"), "label",
        BoostParams("multi:softprob", numRound = 2, maxDepth = 2,
          multiclassStrategy = "softprob"))
      assert(description == "caller: boosting fits")
      GraftBoost.train(train.withColumn("y", (col("label") === 0.0).cast("double")),
        Seq("x1", "x2"), "y", BoostParams("binary:logistic", numRound = 1,
          maxDepth = 2, missingStrategy = "native"))
      assert(description == "caller: boosting fits")
      GraftBoost.train(train.withColumn("grp", col("x2").cast("long")),
        Seq("x1"), "label", BoostParams("rank:pairwise", numRound = 1,
          maxDepth = 2), groupCol = Some("grp"))
      assert(description == "caller: boosting fits")
      // fails inside the fit loop, after it has labelled its own jobs
      intercept[IllegalArgumentException] {
        GraftBoost.train(train, Seq("x1", "x2"), "label",
          BoostParams("multi:softprob", numRound = 1,
            multiclassStrategy = "softprob", monotoneConstraints = Seq(1)))
      }
      assert(description == "caller: boosting fits")
    } finally sc.setJobDescription(null)
  }

  test("colsample_bytree bounds the features each softprob tree splits on") {
    // four independent informative features (unsampled, these trees
    // split on three or four each): at colsample 0.5 every class tree
    // may split on at most ⌈0.5·4⌉ = 2 of them
    val df = (0 until 600).map { i =>
      val (a, b, c, d) = ((i % 10).toDouble, ((i / 10) % 10).toDouble,
        (i / 100).toDouble, ((i * 37) % 11).toDouble)
      (a, b, c, d, math.min(2, ((a + b + c + d) / 12.0).toInt).toDouble)
    }.toDF("a", "b", "c", "d", "label")
    val m = GraftBoost.train(df, Seq("a", "b", "c", "d"), "label",
      BoostParams("multi:softprob", numRound = 4, maxDepth = 3,
        multiclassStrategy = "softprob", colsampleBytree = 0.5))
    val used = m.model.asInstanceOf[MultiSparse.MultiSparseModel].trees
      .map(_.feature.filter(_ >= 0).distinct.length)
    assert(used.forall(_ <= 2) && used.exists(_ > 0),
      s"features per tree at colsample 0.5 of 4: ${used.toSeq}")
  }
}
