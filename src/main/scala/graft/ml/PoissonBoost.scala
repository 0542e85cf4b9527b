package graft.ml

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.Model
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.regression.{DecisionTreeRegressor, DecisionTreeRegressionModel}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Poisson count regression — XGBoost's `count:poisson` objective
  * (log link), reached through the reference's params-dict passthrough
  * (`core.py:164-321`). MLlib's GBT has neither a Poisson loss nor a
  * link function, so this is a custom Newton loop on MLlib
  * regression trees:
  *
  *  1. F₀ = ln(ȳ) (the MLE of the constant log-rate),
  *  2. each round fits a [[DecisionTreeRegressor]] to the Newton
  *     working response z = (y − μ)/μ with instance weight h = μ,
  *     where μ = exp(F): weighted least squares puts Σ(y−μ)/Σμ in
  *     each leaf — exactly the second-order step XGBoost's Poisson
  *     objective takes (z clipped to ±[[ZClip]], h floored at
  *     [[HessFloor]] — the same stability guards XGBoost applies via
  *     `max_delta_step`),
  *  3. F += η · tree(x), re-materialized with localCheckpoint.
  *
  * Per-round TRAIN mean Poisson deviance falls out of the same pass
  * that computes the gradients (the `evals_result` history). State is
  * one double per row; predictions are μ = exp(F) on the count scale.
  */
object PoissonBoost {

  /** Working-response clip — XGBoost's max_delta_step=0.7 analog. */
  val ZClip = 2.0
  /** Rate floor — keeps the hessian weight strictly positive. */
  val HessFloor = 1e-6

  /** The trained booster: μ(x) = exp(base + η · Σ_r tree_r(x)).
    * Transform appends `prediction` (the expected COUNT, XGBoost's
    * count:poisson output scale). Scoring broadcasts the forest once;
    * one map-side pass.
    */
  final class PoissonModel(
      override val uid: String,
      val trees: Array[DecisionTreeRegressionModel],
      val base: Double,
      val eta: Double
  ) extends Model[PoissonModel] {

    override def copy(extra: ParamMap): PoissonModel =
      new PoissonModel(uid, trees, base, eta)

    override def transformSchema(schema: StructType): StructType =
      schema.add(StructField("prediction", DoubleType))

    def marginOf(v: Vector): Double = {
      var f = base
      var r = 0
      while (r < trees.length) { f += eta * trees(r).predict(v); r += 1 }
      f
    }
    def predictOne(v: Vector): Double = math.exp(marginOf(v))

    override def transform(ds: Dataset[_]): DataFrame = {
      val bc = ds.sparkSession.sparkContext.broadcast(this)
      val pU = udf((v: Vector) => bc.value.predictOne(v))
      ds.withColumn("prediction", pU(col("features")))
    }

    /** Truncated copy keeping the first `rounds` boosting rounds. */
    def truncate(rounds: Int): PoissonModel = {
      require(rounds >= 1 && rounds <= trees.length,
        s"rounds must be in [1, ${trees.length}], got $rounds")
      new PoissonModel(uid, trees.take(rounds), base, eta)
    }
  }

  /** Train the Poisson booster. `data` must carry `features` (vector)
    * and `label` (double counts ≥ 0); an optional weight column
    * multiplies the hessian (exposure/sample weights).
    *
    * @return the model plus per-round TRAIN mean Poisson deviance
    *         2·avg(y·ln(y/μ) − (y−μ)), the standard GLM readout
    */
  def train(
      data: DataFrame,
      params: GraftBoost.BoostParams,
      weightCol: Option[String] = None
  ): (PoissonModel, Array[Double]) = {
    val keep = Seq(col("features"), col("label")) ++ weightCol.map(col)
    val src = data.select(keep: _*)
    val ybar = src.select(avg(col("label"))).head().getDouble(0)
    require(ybar > 0.0, "count:poisson needs a positive mean label")
    val base = math.log(ybar)
    var cur = src.withColumn("f", lit(base)).localCheckpoint()

    def deviance(df: DataFrame): Double =
      df.select(avg(lit(2.0) * (
          when(col("label") > 0.0,
            col("label") * log(col("label") / exp(col("f")))).otherwise(lit(0.0))
            - (col("label") - exp(col("f"))))))
        .head().getDouble(0)

    val hist = new ArrayBuffer[Double](params.numRound)
    val forest = new ArrayBuffer[DecisionTreeRegressionModel](params.numRound)
    for (r <- 1 to params.numRound) {
      // XGBoost's `subsample`: deterministic content-hash Bernoulli
      // round sample ([[GraftBoost.roundSample]])
      val fitBase = GraftBoost.roundSample(cur, params.subsample,
        params.seed + 173L * r)
      val mu = greatest(exp(col("f")), lit(HessFloor))
      val z = least(greatest((col("label") - mu) / mu, lit(-ZClip)), lit(ZClip))
      val h = weightCol.map(w => mu * col(w)).getOrElse(mu)
      val dt = new DecisionTreeRegressor()
        .setFeaturesCol("features").setLabelCol("z").setWeightCol("h")
        .setMaxDepth(params.maxDepth).setMaxBins(params.maxBins)
        .setMinInstancesPerNode(params.minChildWeight)
        .setSeed(params.seed + 173L * r)
      val fitted = dt.fit(fitBase.withColumn("z", z).withColumn("h", h))
      forest += fitted
      val bc = data.sparkSession.sparkContext.broadcast(fitted)
      val eta = params.eta
      val upd = udf((v: Vector, f: Double) => f + eta * bc.value.predict(v))
      cur = cur.withColumn("f", upd(col("features"), col("f"))).localCheckpoint()
      hist += deviance(cur)
    }
    (new PoissonModel(s"poisson_${params.seed}", forest.toArray, base,
      params.eta), hist.toArray)
  }
}
