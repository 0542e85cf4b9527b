package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml._
import graft.ml.GraftBoost._

/** Poisson count boosting — XGBoost's `count:poisson` (log link,
  * Newton leaves) on the native grower ([[SparseBoost]]), via the
  * reference's params passthrough (`core.py:164-321`). Pins
  * convergence to per-region Poisson MLEs (= region means), deviance
  * monotonicity, positivity of the count-scale output, lifecycle
  * dispatch, TreeSHAP on the log-rate margin and the model sink
  * round-trip.
  */
class PoissonBoostSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  // two regions with known mean counts: x=0 → {1,2,3} (mean 2),
  // x=1 → {8,10,12} (mean 10)
  private lazy val grouped = {
    val rows = (0 until 300).map { i =>
      if (i % 2 == 0) (0.0, Seq(1.0, 2.0, 3.0)(i % 3))
      else (1.0, Seq(8.0, 10.0, 12.0)(i % 3))
    }
    rows.toDF("x", "y").cache()
  }

  test("converges to per-region Poisson MLE (the region mean)") {
    val m = GraftBoost.train(grouped, Seq("x"), "y",
      BoostParams("count:poisson", numRound = 15, maxDepth = 1, eta = 0.5))
    val preds = GraftBoost.predict(m, grouped)
      .groupBy("x").agg(first("prediction").as("p"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(math.abs(preds(0.0) - 2.0) < 0.05, s"region 0: ${preds(0.0)} vs 2.0")
    assert(math.abs(preds(1.0) - 10.0) < 0.2, s"region 1: ${preds(1.0)} vs 10.0")
  }

  test("train deviance history decreases and beats the constant-rate model") {
    val m = GraftBoost.train(grouped, Seq("x"), "y",
      BoostParams("count:poisson", numRound = 10, maxDepth = 1, eta = 0.5))
    val hist = m.evalsResult("train")("poisson-deviance")
    assert(hist.length == 10)
    assert(hist.last < hist.head, s"deviance must fall: ${hist.head} -> ${hist.last}")
    // constant-rate deviance at ybar = 6: 2*avg(y ln(y/6) - (y-6))
    val ybar = 6.0
    val constDev = grouped.select(avg(lit(2.0) *
        (col("y") * log(col("y") / ybar) - (col("y") - ybar))))
      .head().getDouble(0)
    assert(hist.last < constDev / 4,
      s"fitted deviance ${hist.last} must be far below constant $constDev")
  }

  test("predictions are strictly positive (log link) even on zero-count rows") {
    val withZeros = (0 until 200).map { i =>
      (if (i % 2 == 0) 0.0 else 1.0, if (i % 2 == 0) 0.0 else 5.0)
    }.toDF("x", "y")
    val m = GraftBoost.train(withZeros, Seq("x"), "y",
      BoostParams("count:poisson", numRound = 8, maxDepth = 1, eta = 0.5))
    val minP = GraftBoost.predict(m, withZeros)
      .select(min(col("prediction"))).head().getDouble(0)
    assert(minP > 0.0, s"log link must keep predictions positive, got $minP")
  }

  test("local predict matches distributed transform exactly") {
    val m = GraftBoost.train(grouped, Seq("x"), "y",
      BoostParams("count:poisson", numRound = 5, maxDepth = 1))
    GraftBoost.predict(m, grouped.limit(4)).select("x", "prediction")
      .collect().foreach { r =>
        val local = GraftBoost.predictLocal(m,
          org.apache.spark.ml.linalg.Vectors.dense(r.getDouble(0)))
        assert(local == r.getDouble(1), s"local/distributed skew at x=${r.getDouble(0)}")
      }
  }

  test("subsample < 1 is deterministic and still converges near the MLEs") {
    // a per-row-distinct jitter feature keeps the content hash
    // well-mixed (the grouped fixture has only 6 distinct rows)
    val jittered = (0 until 300).map { i =>
      if (i % 2 == 0) (0.0, i.toDouble, Seq(1.0, 2.0, 3.0)(i % 3))
      else (1.0, i.toDouble, Seq(8.0, 10.0, 12.0)(i % 3))
    }.toDF("x", "j", "y")
    val p = BoostParams("count:poisson", numRound = 12, maxDepth = 1,
      eta = 0.5, subsample = 0.5)
    val m1 = GraftBoost.train(jittered, Seq("x", "j"), "y", p)
    val m2 = GraftBoost.train(jittered, Seq("x", "j"), "y", p)
    val a = GraftBoost.predict(m1, jittered).orderBy("x", "j")
      .select("prediction").collect().map(_.getDouble(0))
    val b = GraftBoost.predict(m2, jittered).orderBy("x", "j")
      .select("prediction").collect().map(_.getDouble(0))
    assert(a.sameElements(b), "content-hash subsampling must be reproducible")
    val preds = GraftBoost.predict(m1, jittered)
      .groupBy("x").agg(avg("prediction").as("p"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(math.abs(preds(0.0) - 2.0) < 0.6, s"region 0: ${preds(0.0)}")
    assert(math.abs(preds(1.0) - 10.0) < 2.0, s"region 1: ${preds(1.0)}")
  }

  test("model sink round-trip scores identically") {
    val m = GraftBoost.train(grouped, Seq("x"), "y",
      BoostParams("count:poisson", numRound = 4, maxDepth = 1))
    val dir = java.nio.file.Files.createTempDirectory("poisson_io").toString
    ModelIO.save(spark, m, dir)
    val loaded = ModelIO.load(spark, dir)
    val a = GraftBoost.predict(m, grouped).orderBy("x", "y")
      .select("prediction").collect().map(_.getDouble(0))
    val b = GraftBoost.predict(loaded, grouped).orderBy("x", "y")
      .select("prediction").collect().map(_.getDouble(0))
    assert(a.sameElements(b), "reloaded poisson model must score bit-identically")
    assert(loaded.evalsResult("train")("poisson-deviance").length == 4)
  }

  test("TreeSHAP bias + contributions equal the log-rate margin") {
    val m = GraftBoost.train(grouped, Seq("x"), "y",
      BoostParams("count:poisson", numRound = 5, maxDepth = 2, eta = 0.5))
    val scored = GraftBoost.predict(m, grouped)
    val rows = TreeShap.transform(m, scored)
      .select(col("prediction"), col("bias"), col("shap")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val margin = math.log(r.getDouble(0))
      val sum = r.getDouble(1) + r.getSeq[Double](2).sum
      assert(math.abs(sum - margin) < 1e-9,
        s"bias + sum(shap) = $sum, margin ln(prediction) = $margin")
    }
  }

  test("artifacts of the removed Poisson and quantile model classes fail to load by name") {
    // graft_meta.json as the old per-objective loops wrote it: the
    // Poisson scalars rode the meta, the model class named the loop
    for (cls <- Seq("graft.ml.PoissonBoost$PoissonModel",
        "graft.ml.QuantileBoost$QuantileModel")) {
      val dir = java.nio.file.Files.createTempDirectory("legacy_io")
      val meta = s"""{"modelClass":"$cls","featureCols":["x"],""" +
        """"objective":"count:poisson","numClasses":0,""" +
        """"missingStrategy":"impute","imputationMeans":{},""" +
        """"evalsResult":{},"poissonBase":1.5,"poissonEta":0.3,""" +
        """"poissonRounds":2}"""
      java.nio.file.Files.write(dir.resolve("graft_meta.json"),
        meta.getBytes("UTF-8"))
      val e = intercept[UnsupportedOperationException] {
        ModelIO.load(spark, dir.toString)
      }
      assert(e.getMessage == s"unknown model class: $cls", e.getMessage)
    }
  }
}
