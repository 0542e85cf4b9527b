package graft.ml

import org.apache.spark.ml.Model
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import SparseBoost.{ImportanceAcc, SparseTree}

/** Native multiclass forest — the array-flattened
  * ([[SparseBoost.SparseTree]]) representation of a `multi:softprob`
  * model: `trees(i)` contributes its leaf value to class
  * `treeInfo(i)`'s margin, exactly the XGBoost gbtree layout where
  * `tree_info` carries each tree's class id (round-major: round r owns
  * trees [r·K, (r+1)·K) for a plain K-class fit).
  *
  * This is the model the boosting round loop trains under
  * [[Objective.Softprob]] and, with `objective` "binary:logistic",
  * under [[Objective.Ovr]] (K independent logistic channels,
  * scored the same way) (reference
  * `core.py:580-590` rewrites binary objectives to `multi:softprob`;
  * its tests `test_core.py:72-101` exercise the multiclass lifecycle)
  * and the scorer multiclass [[XgbJson]] documents ingest into: a
  * stock XGBoost multiclass document scores with serving semantics
  * (NaN routed along each split's `default_left`). Scoring is one
  * [[graft.plans.ForestScore]] projection that reads the model-sized
  * tree arrays broadcast once — no shuffle, no driver data path.
  */
object MultiSparse {

  final class MultiSparseModel(
      override val uid: String,
      val trees: Array[SparseTree],
      /** Class id each tree's output accumulates into (XGBoost's
        * `tree_info`) — same length as `trees`.
        */
      val treeInfo: Array[Int],
      val numClasses: Int,
      /** Shared per-class margin base (stock `base_score` passes
        * through the softmax objective's identity link, so one scalar
        * rides every class margin — a uniform shift that cancels in
        * softmax/argmax but keeps `margins` faithful to XGBoost's
        * `output_margin=True`).
        */
      val base: Double,
      val objective: String,
      /** Raw per-feature split statistics (the `get_score` inputs) —
        * accumulated by the grower in training, or recomputed at
        * ingest from the document's `loss_changes` / `sum_hessian`
        * when available; empty = stats unavailable.
        */
      val stats: ImportanceAcc = ImportanceAcc.empty,
      /** True when this forest came through a dart document (drop
        * weights folded into the leaf values at ingest): re-export
        * must go back through the dart slot, not relabel the forest
        * as plain gbtree.
        */
      val dartFolded: Boolean = false
  ) extends Model[MultiSparseModel] {
    require(trees.length == treeInfo.length,
      s"tree_info length ${treeInfo.length} != num_trees ${trees.length}")
    require(treeInfo.forall(k => k >= 0 && k < numClasses),
      s"tree_info class ids must be in [0, $numClasses)")

    override def copy(extra: ParamMap): MultiSparseModel =
      new MultiSparseModel(uid, trees, treeInfo, numClasses, base,
        objective, stats, dartFolded)

    /** Accumulated per-class margins for one feature vector — tree
      * order, so each class sums its rounds in the order
      * the boosting round loop accumulated its training margins.
      */
    def marginsOf(x: Array[Double]): Array[Double] = {
      val m = Array.fill(numClasses)(base)
      var i = 0
      while (i < trees.length) {
        m(treeInfo(i)) += trees(i).valueOf(x); i += 1
      }
      m
    }
    def marginsOf(v: Vector): Array[Double] = marginsOf(v.toArray)

    /** Softmax probabilities (max-shifted) for one feature vector. */
    def probaOf(v: Vector): Array[Double] = softmaxInPlace(marginsOf(v))

    /** XGBoost `get_score` parity over recomputed split statistics —
      * one shared dispatch ([[ImportanceAcc.byType]]) with the same
      * loud refusal contract as the single-target model when the
      * source document carried no usable statistics.
      */
    def importanceByType(importanceType: String): Array[Double] = {
      require(stats.gain.nonEmpty,
        "importance statistics unavailable: the source document " +
        "carried no loss_changes (or was exported from a pre-gain " +
        "artifact with the stats-absent marker)")
      stats.byType(importanceType)
    }

    override def transformSchema(schema: StructType): StructType =
      schema
        .add(StructField("margins", ArrayType(DoubleType, containsNull = false)))
        .add(StructField("prediction", DoubleType))

    /** Appends `margins` (array of K doubles) and `prediction` — the
      * argmax class id with ties breaking to the LOWEST class
      * (array_position finds the first maximum).
      */
    override def transform(ds: Dataset[_]): DataFrame =
      ds.withColumn("margins", graft.plans.ForestScore.overVector(ds.sparkSession,
          this, "margins", col("features"), None))
        .withColumn("prediction",
          (array_position(col("margins"), array_max(col("margins"))) - 1L)
            .cast(DoubleType))

    /** Boosting rounds of the plain round-major layout (tree i ->
      * class i mod K); refuses an irregular tree_info, which has no
      * round structure.
      */
    def numRounds: Int = {
      val roundMajor = trees.length % numClasses == 0 &&
        treeInfo.indices.forall(i => treeInfo(i) == i % numClasses)
      require(roundMajor,
        "round-indexed use needs the round-major tree layout (tree i -> " +
        "class i mod K); this document's tree_info is irregular")
      trees.length / numClasses
    }

    /** Truncated copy keeping the first `rounds` boosting rounds —
      * XGBoost's `iteration_range` on a multiclass document. Needs
      * the plain round-major layout (tree i → class i mod K; an
      * irregular tree_info has no round structure to cut at) and
      * refuses dart-folded forests, the same `ntree_limit`
      * restriction XGBoost and [[SparseBoost.SparseModel.truncate]]
      * apply. Importance statistics are recomputed EXACTLY for the
      * kept prefix from its per-node gains/covers when available.
      */
    def truncate(rounds: Int): MultiSparseModel = {
      require(!dartFolded,
        "cannot truncate a dart-folded forest: drop-weight rescales " +
        "mean no tree prefix reproduces a training-time round margin " +
        "(XGBoost likewise forbids ntree_limit with booster='dart')")
      val n = numRounds
      require(rounds >= 1 && rounds <= n,
        s"rounds must be in [1, $n], got $rounds")
      val kept = trees.take(rounds * numClasses)
      val newStats =
        if (stats.gain.isEmpty || kept.exists(t => t.gain.length != t.feature.length))
          ImportanceAcc.empty
        else {
          val acc = ImportanceAcc(stats.gain.length)
          kept.foreach { t =>
            var i = 0
            while (i < t.feature.length) {
              if (t.feature(i) >= 0) acc.record(t.feature(i), t.gain(i), t.cover(i))
              i += 1
            }
          }
          acc
        }
      new MultiSparseModel(uid, kept, treeInfo.take(rounds * numClasses),
        numClasses, base, objective, newStats)
    }
  }

  /** Max-shifted softmax of `m`, in place. */
  private[ml] def softmaxInPlace(m: Array[Double]): Array[Double] = {
    var mx = m(0); var k = 1
    while (k < m.length) { if (m(k) > mx) mx = m(k); k += 1 }
    var s = 0.0; k = 0
    while (k < m.length) { m(k) = math.exp(m(k) - mx); s += m(k); k += 1 }
    k = 0
    while (k < m.length) { m(k) /= s; k += 1 }
    m
  }
}
