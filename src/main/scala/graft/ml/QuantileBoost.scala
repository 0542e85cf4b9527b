package graft.ml

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.Model
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.regression.DecisionTreeRegressor
import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, LeafNode, Node}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Quantile-regression boosting — XGBoost's `reg:quantileerror`
  * objective (pinball/check loss), which the reference exposes through
  * its params dict passthrough (`core.py:164-321` forwards arbitrary
  * `params` to `xgb.train`). MLlib's GBT has no quantile loss, so this
  * is a from-scratch gradient-boosting loop on MLlib regression
  * trees:
  *
  *  1. F₀ = the exact α-quantile of the labels (one distributed
  *     `percentile` aggregate),
  *  2. each round fits a [[DecisionTreeRegressor]] to the pinball
  *     negative gradient g = α − 1{y ≤ F} (the {α−1, α}-valued
  *     direction field — Friedman's TreeBoost step for non-squared
  *     losses),
  *  3. the classic line-search step replaces each leaf's least-squares
  *     mean with the exact α-quantile of the residuals (y − F) that
  *     landed in that leaf (sklearn's QuantileLossFunction
  *     `_update_terminal_region` semantics, computed distributed via
  *     one `groupBy(leaf).percentile` pass),
  *  4. F += η · γ(leaf), margins re-materialized with localCheckpoint.
  *
  * Leaf routing is self-contained: the fitted MLlib tree is flattened
  * once on the driver into a [[PlainTree]] array evaluator (node
  * arrays, `x(feature) ≤ threshold` goes left — MLlib's
  * ContinuousSplit convention), and the SAME evaluator assigns
  * training rows to leaves and routes scoring rows later, so there is
  * no dependence on MLlib's internal leaf numbering. Per-round state
  * is one double per row; leaf tables are model-sized (≤ 2^maxDepth
  * rows) driver artifacts — nothing data-scale crosses the driver.
  */
object QuantileBoost {

  /** Array-flattened decision tree. Node i is a leaf iff
    * `feature(i) < 0`, in which case `value(i)` is its γ (the
    * α-quantile line-search step, baked after the leaf pass);
    * otherwise the row goes left iff `x(feature(i)) ≤ thresh(i)`.
    */
  final case class PlainTree(
      feature: Array[Int],
      thresh: Array[Double],
      left: Array[Int],
      right: Array[Int],
      value: Array[Double]
  ) extends Serializable {
    def leafOf(v: Vector): Int = {
      var i = 0
      while (feature(i) >= 0) {
        i = if (v(feature(i)) <= thresh(i)) left(i) else right(i)
      }
      i
    }
    def gammaOf(v: Vector): Double = value(leafOf(v))
    /** Leaf-node indices in flattening order (stable across calls). */
    def leafIds: Array[Int] = feature.indices.filter(feature(_) < 0).toArray
    def withValues(gamma: Map[Int, Double]): PlainTree = {
      val out = value.clone()
      gamma.foreach { case (i, g) => out(i) = g }
      copy(value = out)
    }
  }

  /** Flatten an MLlib tree into a [[PlainTree]] (pre-order, left
    * before right). Only continuous splits can occur here — features
    * come from numeric VectorAssembler columns — so a categorical
    * split fails loudly rather than mis-routing.
    */
  private[ml] def flatten(root: Node): PlainTree = {
    val feature = ArrayBuffer.empty[Int]
    val thresh = ArrayBuffer.empty[Double]
    val left = ArrayBuffer.empty[Int]
    val right = ArrayBuffer.empty[Int]
    val value = ArrayBuffer.empty[Double]
    def walk(n: Node): Int = {
      val id = feature.length
      feature += 0; thresh += 0.0; left += -1; right += -1; value += 0.0
      n match {
        case l: LeafNode =>
          feature(id) = -1
          value(id) = l.prediction
        case in: InternalNode =>
          val s = in.split match {
            case c: ContinuousSplit => c
            case other => throw new IllegalStateException(
              s"unexpected categorical split in quantile tree: $other")
          }
          feature(id) = s.featureIndex
          thresh(id) = s.threshold
          left(id) = walk(in.leftChild)
          right(id) = walk(in.rightChild)
      }
      id
    }
    walk(root)
    PlainTree(feature.toArray, thresh.toArray, left.toArray, right.toArray,
      value.toArray)
  }

  /** The trained quantile booster: F(x) = base + η · Σ_r γ_r(x).
    * Slots into [[GraftBoost.GraftBoostModel]] like the other custom
    * loop ([[PoissonBoost.PoissonModel]]); transform appends
    * `prediction`. Scoring broadcasts the (model-sized) tree arrays
    * once — one map-side pass, no shuffle.
    */
  final class QuantileModel(
      override val uid: String,
      val trees: Array[PlainTree],
      val base: Double,
      val eta: Double,
      val alpha: Double
  ) extends Model[QuantileModel] {

    override def copy(extra: ParamMap): QuantileModel =
      new QuantileModel(uid, trees, base, eta, alpha)

    override def transformSchema(schema: StructType): StructType =
      schema.add(StructField("prediction", DoubleType))

    def predictOne(v: Vector): Double = {
      var f = base
      var r = 0
      while (r < trees.length) { f += eta * trees(r).gammaOf(v); r += 1 }
      f
    }

    override def transform(ds: Dataset[_]): DataFrame = {
      val bc = ds.sparkSession.sparkContext.broadcast(this)
      val pU = udf((v: Vector) => bc.value.predictOne(v))
      ds.withColumn("prediction", pU(col("features")))
    }

    /** Truncated copy keeping the first `rounds` boosting rounds. */
    def truncate(rounds: Int): QuantileModel = {
      require(rounds >= 1 && rounds <= trees.length,
        s"rounds must be in [1, ${trees.length}], got $rounds")
      new QuantileModel(uid, trees.take(rounds), base, eta, alpha)
    }
  }

  /** Mean pinball loss of margin column `f` against `label`. */
  private def pinball(df: DataFrame, alpha: Double): Double =
    df.select(avg(greatest(
        (col("label") - col("f")) * alpha,
        (col("label") - col("f")) * (alpha - 1.0))))
      .head().getDouble(0)

  /** Train the quantile booster. `data` must carry `features`
    * (vector) and `label` (double); an optional weight column weighs
    * the tree fit (split search). The leaf line-search quantile is
    * unweighted — `percentile`'s frequency argument is integral, so
    * fractional weights can't reach the order statistic; the
    * divergence is confined to γ and documented here.
    *
    * @return the model plus the per-round TRAIN pinball history
    *         (entry r = mean check loss after r rounds)
    */
  def train(
      data: DataFrame,
      params: GraftBoost.BoostParams,
      alpha: Double,
      weightCol: Option[String] = None
  ): (QuantileModel, Array[Double]) = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    val spark = data.sparkSession
    val keep = Seq(col("features"), col("label")) ++ weightCol.map(col)
    val src = data.select(keep: _*)

    spark.sparkContext.setJobDescription("boost: base-quantile")
    val base = src.select(percentile(col("label"), lit(alpha))).head().getDouble(0)
    spark.sparkContext.setJobDescription("boost: init-margin")
    var cur = src.withColumn("f", lit(base)).localCheckpoint()

    val hist = new ArrayBuffer[Double](params.numRound)
    val forest = new ArrayBuffer[PlainTree](params.numRound)
    for (r <- 1 to params.numRound) {
      // XGBoost's `subsample`: each round fits on a deterministic
      // content-hash Bernoulli sample ([[GraftBoost.roundSample]]);
      // margin updates and the train history stay full-data.
      val fitBase = GraftBoost.roundSample(cur, params.subsample,
        params.seed + 131L * r)
      // pinball negative gradient: α − 1{y ≤ F} ∈ {α−1, α}
      val g = when(col("label") <= col("f"), lit(alpha - 1.0))
        .otherwise(lit(alpha))
      val dt = new DecisionTreeRegressor()
        .setFeaturesCol("features").setLabelCol("g")
        .setMaxDepth(params.maxDepth).setMaxBins(params.maxBins)
        .setMinInstancesPerNode(params.minChildWeight)
        .setSeed(params.seed + 131L * r)
      weightCol.foreach(dt.setWeightCol)
      spark.sparkContext.setJobDescription(s"boost: r$r grow")
      val fitted = dt.fit(fitBase.withColumn("g", g))
      spark.sparkContext.setJobDescription(s"boost: r$r gamma")
      val skeleton = flatten(fitted.rootNode)

      // line search: γ_leaf = exact α-quantile of residuals in leaf
      // (over the same round sample the tree saw). The exact
      // percentile's value multiset per leaf is partition-order-free,
      // so the final merges can run one-leaf-per-task: the explicit
      // keyed repartition stops AQE from coalescing this small shuffle
      // back onto ONE reducer (the same serial-merge fix as
      // SparseBoost.proposeEdges; ×4 oversampling against hash
      // collisions).
      val bcSkel = spark.sparkContext.broadcast(skeleton)
      val leafU = udf((v: Vector) => bcSkel.value.leafOf(v))
      val nLeaves = skeleton.leafIds.length
      val leafParts = math.max(1, math.min(
        spark.sparkContext.defaultParallelism, nLeaves * 4))
      val gammas = fitBase
        .withColumn("leaf", leafU(col("features")))
        .repartition(leafParts, col("leaf"))
        .groupBy(col("leaf"))
        .agg(percentile(col("label") - col("f"), lit(alpha)).as("gamma"))
        .collect()
        .map(row => row.getInt(0) -> row.getDouble(1))
        .toMap
      val tree = skeleton.withValues(gammas)
      forest += tree

      val bcTree = spark.sparkContext.broadcast(tree)
      val eta = params.eta
      val upd = udf((v: Vector, f: Double) => f + eta * bcTree.value.gammaOf(v))
      spark.sparkContext.setJobDescription(s"boost: r$r margin-update")
      cur = cur.withColumn("f", upd(col("features"), col("f"))).localCheckpoint()
      spark.sparkContext.setJobDescription(s"boost: r$r loss")
      hist += pinball(cur, alpha)
    }
    (new QuantileModel(s"quantile_${params.seed}_$alpha", forest.toArray,
      base, params.eta, alpha), hist.toArray)
  }
}
