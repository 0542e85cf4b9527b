package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml._
import graft.ml.GraftBoost._

/** Quantile-regression boosting — XGBoost's `reg:quantileerror`
  * (pinball loss) on the native grower ([[SparseBoost]]), reached
  * through the reference's params-dict passthrough
  * (`core.py:164-321`). Pins the mechanism (exact leaf-quantile line
  * search as the leaf rule), the statistical contract
  * (coverage ≈ α, quantile monotonicity in α), and the lifecycle
  * integration (GraftBoostModel dispatch, history, local predict).
  */
class QuantileBoostSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  // Two clearly-separated groups with known per-group quantiles:
  // x=0 → y ∈ {0,…,99}, x=1 → y ∈ {1000,…,1099} (uniform grids, so
  // exact percentiles are linear interpolations we can hand-compute).
  private lazy val grouped = {
    val rows = (0 until 100).map(i => (0.0, i.toDouble)) ++
      (0 until 100).map(i => (1.0, 1000.0 + i))
    rows.toDF("x", "y").cache()
  }

  test("one round at eta=1 recovers the exact per-group alpha-quantile") {
    // depth-1 tree splits the two groups; the line-search leaf value is
    // the exact alpha-quantile of residuals, so base + gamma IS the
    // group quantile — bit-exact, no tolerance.
    for (alpha <- Seq(0.25, 0.5, 0.9)) {
      val m = GraftBoost.train(grouped, Seq("x"), "y",
        BoostParams("reg:quantileerror", numRound = 1, maxDepth = 1,
          eta = 1.0, quantileAlpha = alpha))
      val preds = GraftBoost.predict(m, grouped)
        .groupBy("x").agg(first("prediction").as("p"), count(lit(1)).as("n"))
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      // exact percentile over 0..99 at alpha: (99*alpha) interpolated
      val q0 = 99.0 * alpha
      assert(math.abs(preds(0.0) - q0) < 1e-9,
        s"alpha=$alpha group0: got ${preds(0.0)}, want $q0")
      assert(math.abs(preds(1.0) - (1000.0 + q0)) < 1e-9,
        s"alpha=$alpha group1: got ${preds(1.0)}, want ${1000.0 + q0}")
    }
  }

  test("pinball train history decreases and coverage approaches alpha") {
    // noisy heteroscedastic data: y = 10x + noise growing with x
    val n = 4000
    val noisy = (0 until n).map { i =>
      val x = (i % 100).toDouble
      // deterministic pseudo-noise, zero-mean-ish, spread grows with x
      val u = ((i * 2654435761L) % 1000) / 1000.0 - 0.5
      (x, 10.0 * x + u * (5.0 + x))
    }.toDF("x", "y")
    val alpha = 0.8
    val m = GraftBoost.train(noisy, Seq("x"), "y",
      BoostParams("reg:quantileerror", numRound = 12, maxDepth = 4,
        eta = 0.3, quantileAlpha = alpha))
    val hist = m.evalsResult("train")("pinball")
    assert(hist.length == 12)
    assert(hist.last < hist.head * 0.8,
      s"pinball must fall materially: ${hist.head} -> ${hist.last}")
    val cov = GraftBoost.predict(m, noisy)
      .select(avg((col("y") <= col("prediction")).cast("double")))
      .head().getDouble(0)
    assert(math.abs(cov - alpha) < 0.05,
      s"coverage $cov must approach alpha=$alpha")
  }

  test("predicted quantiles are ordered in alpha on held-out points") {
    val models = Seq(0.1, 0.5, 0.9).map { a =>
      a -> GraftBoost.train(grouped, Seq("x"), "y",
        BoostParams("reg:quantileerror", numRound = 4, maxDepth = 2,
          eta = 0.5, quantileAlpha = a))
    }
    val probe = Seq(0.0, 1.0).toDF("x")
    val preds = models.map { case (a, m) =>
      a -> GraftBoost.predict(m, probe).orderBy("x")
        .collect().map(_.getAs[Double]("prediction"))
    }.toMap
    for (g <- 0 to 1) {
      assert(preds(0.1)(g) <= preds(0.5)(g) && preds(0.5)(g) <= preds(0.9)(g),
        s"group $g quantile crossing: ${preds.map { case (a, p) => a -> p(g) }}")
    }
  }

  test("local predict matches distributed transform exactly") {
    val m = GraftBoost.train(grouped, Seq("x"), "y",
      BoostParams("reg:quantileerror", numRound = 3, maxDepth = 2,
        quantileAlpha = 0.7))
    val dist = GraftBoost.predict(m, grouped.limit(5)).select("x", "prediction")
      .collect()
    dist.foreach { r =>
      val local = GraftBoost.predictLocal(m,
        org.apache.spark.ml.linalg.Vectors.dense(r.getDouble(0)))
      assert(local == r.getDouble(1), s"local/distributed skew at x=${r.getDouble(0)}")
    }
  }

  test("reg:absoluteerror fits the median and beats the mean on skewed data") {
    // right skew in EVERY x-group: 25% outliers at +4, independent of
    // x (outlier pattern keyed on i/10, base on i%10). Median
    // predictor MAE = 1.0, mean predictor MAE = 1.5. Each leaf is
    // η · the median residual of its rows (the α = 0.5 quantile rule),
    // so the fit walks to the per-group median.
    val skew = (0 until 2000).map { i =>
      val base = (i % 10).toDouble
      val y = if ((i / 10) % 4 == 0) base + 4.0 else base
      (base, y)
    }.toDF("x", "y")
    val lad = GraftBoost.train(skew, Seq("x"), "y",
      BoostParams("reg:absoluteerror", numRound = 10, maxDepth = 4))
    val l2 = GraftBoost.train(skew, Seq("x"), "y",
      BoostParams("reg:squarederror", numRound = 10, maxDepth = 4))
    def mae(m: GraftBoostModel) = GraftBoost.predict(m, skew)
      .select(avg(abs(col("prediction") - col("y")))).head().getDouble(0)
    assert(mae(lad) < mae(l2),
      s"LAD MAE ${mae(lad)} must beat L2 MAE ${mae(l2)} on skewed targets")
  }

  test("model sink round-trip scores identically") {
    val m = GraftBoost.train(grouped, Seq("x"), "y",
      BoostParams("reg:quantileerror", numRound = 3, maxDepth = 2,
        quantileAlpha = 0.8))
    val dir = java.nio.file.Files.createTempDirectory("quantile_io").toString
    ModelIO.save(spark, m, dir)
    val loaded = ModelIO.load(spark, dir)
    val a = GraftBoost.predict(m, grouped).orderBy("x", "y")
      .select("prediction").collect().map(_.getDouble(0))
    val b = GraftBoost.predict(loaded, grouped).orderBy("x", "y")
      .select("prediction").collect().map(_.getDouble(0))
    assert(a.sameElements(b), "reloaded quantile model must score bit-identically")
    assert(loaded.evalsResult("train")("pinball").length == 3)
  }

  test("subsample < 1 is deterministic across runs and still converges") {
    val p = BoostParams("reg:quantileerror", numRound = 6, maxDepth = 2,
      eta = 0.5, quantileAlpha = 0.5, subsample = 0.5)
    val m1 = GraftBoost.train(grouped, Seq("x"), "y", p)
    val m2 = GraftBoost.train(grouped, Seq("x"), "y", p)
    val a = GraftBoost.predict(m1, grouped).orderBy("x", "y")
      .select("prediction").collect().map(_.getDouble(0))
    val b = GraftBoost.predict(m2, grouped).orderBy("x", "y")
      .select("prediction").collect().map(_.getDouble(0))
    assert(a.sameElements(b), "hash-Bernoulli subsampling must be reproducible")
    // still lands near the per-group medians (exact would be 49.5/1049.5)
    val preds = GraftBoost.predict(m1, grouped)
      .groupBy("x").agg(first("prediction").as("p"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(math.abs(preds(0.0) - 49.5) < 15, s"group0 ${preds(0.0)}")
    assert(math.abs(preds(1.0) - 1049.5) < 15, s"group1 ${preds(1.0)}")
  }

  test("weights steer the quantile tree's split search") {
    // weight group-1 rows 100x: with depth 1 the split must still find
    // x, but weighting one side changes the fitted gradient tree only
    // via split stats — verify weighted vs unweighted models differ on
    // a mixed fixture where weights change which split wins
    val mixed = (0 until 400).map { i =>
      val x1 = (i % 20).toDouble
      val x2 = (i / 20).toDouble
      val y = if (i % 2 == 0) x1 * 10 else x2 * 10
      val w = if (i % 2 == 0) 100.0 else 1.0
      (x1, x2, y, w)
    }.toDF("x1", "x2", "y", "w")
    val p = BoostParams("reg:quantileerror", numRound = 2, maxDepth = 2,
      quantileAlpha = 0.5)
    val unw = GraftBoost.train(mixed, Seq("x1", "x2"), "y", p)
    val wtd = GraftBoost.train(mixed, Seq("x1", "x2"), "y", p,
      weightCol = Some("w"))
    val probe = org.apache.spark.ml.linalg.Vectors.dense(19.0, 0.0)
    assert(GraftBoost.predictLocal(unw, probe) !=
      GraftBoost.predictLocal(wtd, probe),
      "100x weights must move the fitted trees")
  }
}
