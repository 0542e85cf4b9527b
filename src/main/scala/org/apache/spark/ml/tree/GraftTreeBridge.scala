package org.apache.spark.ml.tree

/** Bridge to the `private[ml]` node statistics of spark.ml trees.
  *
  * XGBoost-JSON interchange of the MLlib-tree-backed forests (the
  * wrapped GBT paths) needs each node's mass for the document's
  * `sum_hessian` slot (XGBoost's `cover`). MLlib keeps it on
  * `Node.impurityStats` (the `ImpurityCalculator` behind the split
  * search) which is `private[ml]` — for a GBT member tree,
  * `impurityStats.count` IS the node's total instance weight.
  */
object GraftTreeBridge {

  /** Total (weighted) instance mass at `n` — `sum_hessian` for trees
    * fit with hessian instance weights.
    */
  def nodeWeight(n: Node): Double = n.impurityStats.count
}
