package graft

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml._
import graft.ml.GraftBoost._

/** Per-prediction Saabas attributions ([[Contributions]]): the
  * additive identity bias + Σ contribs = margin, feature-level
  * sanity (unused features attribute zero; the signal feature
  * dominates), and classifier-margin agreement.
  */
class ContributionsSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  // y depends on x1 only; x2 is constant (never split on), x3 is noise
  private lazy val reg = {
    val rows = (0 until 500).map { i =>
      val x1 = (i % 25).toDouble
      (x1, 1.0, (i % 7).toDouble, 100.0 + 10.0 * x1)
    }
    rows.toDF("x1", "x2", "x3", "y").cache()
  }

  test("regression: bias + sum(contribs) equals the prediction on every row") {
    val m = GraftBoost.train(reg, Seq("x1", "x2", "x3"), "y",
      BoostParams("reg:squarederror", numRound = 6, maxDepth = 3))
    val scored = GraftBoost.predict(m, reg)
    val at = Contributions.transform(m, scored)
      .withColumn("csum", aggregate(col("contribs"), lit(0.0), (a, x) => a + x))
    val maxerr = at.select(max(abs(col("bias") + col("csum") - col("prediction"))))
      .head().getDouble(0)
    assert(maxerr < 1e-9, s"additivity violated: $maxerr")
  }

  test("constant feature attributes exactly zero; signal feature dominates") {
    val m = GraftBoost.train(reg, Seq("x1", "x2", "x3"), "y",
      BoostParams("reg:squarederror", numRound = 6, maxDepth = 3))
    val at = Contributions.transform(m, GraftBoost.predict(m, reg))
    val means = at.select(
      avg(abs(element_at(col("contribs"), 1))).as("c1"),
      avg(abs(element_at(col("contribs"), 2))).as("c2"),
      avg(abs(element_at(col("contribs"), 3))).as("c3")).head()
    assert(means.getDouble(1) == 0.0, "constant feature must attribute 0")
    assert(means.getDouble(0) > 10 * means.getDouble(2),
      s"signal feature must dominate: ${means}")
  }

  test("binary classifier: bias + sum(contribs) equals the raw margin") {
    val bin = reg.withColumn("label", (col("x1") >= 12.0).cast("double"))
    val m = GraftBoost.train(bin, Seq("x1", "x3"), "label",
      BoostParams("binary:logistic", numRound = 5, maxDepth = 2))
    val forest = m.model.asInstanceOf[SparseBoost.SparseModel]
    val at = Contributions.transform(m, bin.limit(20))
      .withColumn("csum", aggregate(col("contribs"), lit(0.0), (a, x) => a + x))
      .select("x1", "x3", "bias", "csum").collect()
    at.foreach { r =>
      val margin = forest.marginOf(Vectors.dense(r.getDouble(0), r.getDouble(1)))
      val decomposed = r.getDouble(2) + r.getDouble(3)
      assert(math.abs(decomposed - margin) < 1e-9,
        s"margin $margin vs decomposition $decomposed")
    }
  }

  test("contribution direction: high x1 rows attribute positive x1 contribution") {
    val m = GraftBoost.train(reg, Seq("x1", "x2", "x3"), "y",
      BoostParams("reg:squarederror", numRound = 6, maxDepth = 3))
    val at = Contributions.transform(m, GraftBoost.predict(m, reg))
    val hi = at.filter(col("x1") >= 20.0)
      .select(min(element_at(col("contribs"), 1))).head().getDouble(0)
    val lo = at.filter(col("x1") <= 4.0)
      .select(max(element_at(col("contribs"), 1))).head().getDouble(0)
    assert(hi > 0 && lo < 0,
      s"x1 contribution must be positive on high-x1 rows ($hi) and negative on low ($lo)")
  }
}
