package graft.ml

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-prediction additive feature attribution for the boosted-tree
  * models — the Saabas decomposition (the tree-path special case of
  * TreeSHAP): walking a tree from root to leaf, each split transfers
  * `child.prediction − node.prediction` of expected value, attributed
  * to the split feature, so
  *
  *   margin(x) = base + Σ_m root_m.prediction  (bias)
  *             + Σ_features contrib_f(x)          — EXACTLY.
  *
  * This extends the reference's global `feature_importances_` surface
  * (`test_core.py:57`) to per-row explanations, the standard serving
  * companion of a trained booster. The decomposition is deterministic
  * given the model; the exact additivity identity is what the query
  * gate and spec pin.
  *
  * Scale: the flattened trees are model-sized driver artifacts
  * broadcast once; scoring is one map-side pass per row (no shuffle,
  * no per-row allocation beyond the contribution array).
  */
object Contributions {

  /** Array-flattened tree with per-NODE expected values (unlike
    * a scorer's leaf-only walk, internal predictions matter here —
    * they are what the path deltas difference). Leaf iff
    * `feature(i) < 0`; else `x(feature(i)) ≤ thresh(i)` goes left,
    * and a NaN feature follows `defaultLeft(i)`.
    */
  final case class CTree(
      feature: Array[Int],
      thresh: Array[Double],
      left: Array[Int],
      right: Array[Int],
      pred: Array[Double],
      defaultLeft: Array[Boolean]
  ) extends Serializable

  /** The forest's flattened trees. A native sparse forest maps
    * directly: every node carries its η-scaled Newton estimate (leaves
    * the final fenced weight), and the learned default directions ride
    * along so MISSING values attribute to the feature whose default
    * branch routed them — XGBoost pred_contribs semantics.
    */
  private[ml] def forestOf(model: GraftBoost.GraftBoostModel): Array[CTree] =
    model.model match {
      case m: SparseBoost.SparseModel =>
        require(!m.trees.exists(_.hasCategorical),
          "Saabas contributions on a forest with categorical " +
          "(set-membership) splits are not supported: the walk is " +
          "numeric-threshold only")
        m.trees.map(t => CTree(t.feature, t.thresh, t.left, t.right,
          t.value, t.defaultLeft))
      case m => throw new UnsupportedOperationException(
        s"feature contributions need a native sparse forest, got ${m.getClass}")
    }

  /** One row's decomposition: (bias, per-feature contributions). */
  private[ml] def contribsOne(
      forest: Array[CTree], numFeatures: Int, v: Vector
  ): (Double, Array[Double]) = {
    var bias = 0.0
    val out = new Array[Double](numFeatures)
    var m = 0
    while (m < forest.length) {
      val t = forest(m)
      bias += t.pred(0)
      var i = 0
      while (t.feature(i) >= 0) {
        val x = v(t.feature(i))
        val next =
          if (java.lang.Double.isNaN(x)) {
            if (t.defaultLeft(i)) t.left(i) else t.right(i)
          } else if (x <= t.thresh(i)) t.left(i) else t.right(i)
        out(t.feature(i)) += t.pred(next) - t.pred(i)
        i = next
      }
      m += 1
    }
    (bias, out)
  }

  /** Score `df` with per-row attributions: appends `bias` (double) and
    * `contribs` (array<double>, one entry per training feature, in
    * [[GraftBoost.GraftBoostModel.featureCols]] order). The additivity
    * identity `bias + Σcontribs = margin` holds exactly (same float
    * ops as scoring); for `binary:logistic` the margin is the raw
    * pre-sigmoid score, for regression it is the prediction itself.
    */
  def transform(model: GraftBoost.GraftBoostModel, df: DataFrame): DataFrame = {
    val forest = forestOf(model)
    val nf = model.featureCols.length match {
      // pre-assembled vector column: take the width from the model
      case 1 if model.featureCols == Seq("features") =>
        forest.map(t => if (t.feature(0) >= 0) t.feature.max + 1 else 1).max
      case n => n
    }
    // the margin includes the booster's base score; fold it into the
    // bias so additivity reproduces the margin
    val baseOffset = model.model.asInstanceOf[SparseBoost.SparseModel].base
    val data = GraftBoost.assemble(df, model.featureCols, model.imputation,
      keepNaN = model.missingStrategy == "native")
    val bc = data.sparkSession.sparkContext.broadcast(forest)
    val cu = udf((v: Vector) => {
      val (b, c) = contribsOne(bc.value, nf, v)
      (b + baseOffset, c.toSeq)
    })
    data
      .withColumn("_bc", cu(col("features")))
      .withColumn("bias", col("_bc")("_1"))
      .withColumn("contribs", col("_bc")("_2"))
      .drop("_bc", "features")
  }
}
