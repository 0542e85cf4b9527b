package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

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
  * Scale: the contributions are the `contribs` output of
  * [[graft.plans.ForestScore]], one codegen'd projection over the
  * feature columns that walks the broadcast forest's trees directly
  * (no shuffle, no per-row allocation beyond the contribution array).
  * The bias is the same for every row and is computed on the driver.
  */
object Contributions {

  /** One row's per-feature contributions over a native forest: every
    * node carries its η-scaled Newton estimate (leaves the final fenced
    * weight), and a MISSING value follows the node's learned default
    * direction, so it attributes to the feature whose default branch
    * routed it — XGBoost pred_contribs semantics.
    */
  private[graft] def contribsOne(
      trees: Array[SparseBoost.SparseTree], numFeatures: Int, x: Array[Double]
  ): Array[Double] = {
    val out = new Array[Double](numFeatures)
    var m = 0
    while (m < trees.length) {
      val t = trees(m)
      var i = 0
      while (t.feature(i) >= 0) {
        val xi = x(t.feature(i))
        val next =
          if (java.lang.Double.isNaN(xi)) {
            if (t.defaultLeft(i)) t.left(i) else t.right(i)
          } else if (xi <= t.thresh(i)) t.left(i) else t.right(i)
        out(t.feature(i)) += t.value(next) - t.value(i)
        i = next
      }
      m += 1
    }
    out
  }

  /** Score `df` with per-row attributions: appends `bias` (double) and
    * `contribs` (array<double>, one entry per training feature, in
    * [[GraftBoost.GraftBoostModel.featureCols]] order). The additivity
    * identity `bias + Σcontribs = margin` holds exactly (same float
    * ops as scoring); for `binary:logistic` the margin is the raw
    * pre-sigmoid score, for regression it is the prediction itself.
    */
  def transform(model: GraftBoost.GraftBoostModel, df: DataFrame): DataFrame = {
    val sm = model.model match {
      case m: SparseBoost.SparseModel =>
        require(!m.trees.exists(_.hasCategorical),
          "Saabas contributions on a forest with categorical " +
          "(set-membership) splits are not supported: the walk is " +
          "numeric-threshold only")
        m
      case m => throw new UnsupportedOperationException(
        s"feature contributions need a native sparse forest, got ${m.getClass}")
    }
    // Σ root values in tree order, plus the base the margin carries
    var bias = 0.0
    sm.trees.foreach(t => bias += t.value(0))
    GraftBoost.scoreNative(model, df, "contribs", lead = Seq("bias" -> lit(bias + sm.base)))
  }
}
