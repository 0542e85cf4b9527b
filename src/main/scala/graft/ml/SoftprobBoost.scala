package graft.ml

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-model multiclass boosting with the TRUE `multi:softprob`
  * mechanism (reference `core.py:580-590`): one forest whose round r
  * fits K trees on the multinomial softmax gradients of the shared
  * margin state — not a one-vs-rest ensemble of independent binary
  * models.
  *
  * Each round:
  *  1. p = softmax(F) from the carried per-row margin array F
  *     (max-shifted for overflow safety),
  *  2. per class k the shared histogram grower
  *     ([[SparseBoost.growTree]]) fits one tree on the Newton
  *     statistics g = p_k − y_k, h = max(p_k(1−p_k), [[HessFloor]])
  *     — regularized Newton leaves −G/(H+λ) and Newton split gains,
  *     XGBoost's softmax objective (the hessian floor is the standard
  *     guard on saturated rows),
  *  3. F_k += tree_k(x) (leaf values are η-scaled), margins
  *     re-materialized via localCheckpoint so the lineage never
  *     deepens.
  *
  * The K class fits of a round run one after the other on the same
  * split-proposal edges (proposed once per fit); the margin state is
  * a K-double array per row, exactly the O(n·K) state XGBoost keeps.
  * Per-round train mlogloss falls out of the SAME pass that computes
  * the gradients (the `evals_result` history, reference
  * `core.py:259-260`). The model is a round-major
  * [[MultiSparse.MultiSparseModel]] (tree i → class i mod K), the
  * scorer XGBoost multiclass documents ingest into.
  */
object SoftprobBoost {

  /** Hessian floor — keeps hessians strictly positive on saturated rows. */
  val HessFloor = 1e-6

  /** Train the softprob forest. `data` must carry `features` (vector)
    * and `label` (double class ids 0..K−1); an optional weight column
    * multiplies each row's (g, h) — XGBoost's instance weights.
    *
    * @return the model plus the per-round TRAIN mlogloss history
    *         (entry r = loss after r rounds, XGBoost's convention)
    */
  def train(
      data: DataFrame,
      params: GraftBoost.BoostParams,
      numClasses: Int,
      weightCol: Option[String] = None
  ): (MultiSparse.MultiSparseModel, Array[Double]) = {
    require(numClasses >= 2, s"numClasses must be >= 2, got $numClasses")
    val sc = data.sparkSession.sparkContext
    val K = numClasses
    val keep = Seq(col("features"), col("label")) ++ weightCol.map(col)
    val src = data.select(keep: _*)

    sc.setJobDescription("boost: propose-edges")
    val numFeat = src.select(col("features")).head().getAs[Vector](0).size
    val edges = SparseBoost.proposeEdges(src, numFeat, params.maxBins,
      params.splitProposal)
    SparseBoost.validateFeatureParams(params, numFeat)
    val constraints =
      if (params.monotoneConstraints.isEmpty) new Array[Int](numFeat)
      else params.monotoneConstraints.toArray
    val allowed = Array.fill(numFeat)(true)

    var cur = src.withColumn("f", array_repeat(lit(0.0), K)).localCheckpoint()

    // softmax(F) as columns: max-shifted exp, normalized. The exp
    // array and its sum are materialized in their own projections
    // before the normalizing lambda references them (CLAUDE.md HOF
    // rule — inlining re-evaluates them per element).
    def withProbs(df: DataFrame): DataFrame = {
      val mx = array_max(col("f"))
      df.withColumn("ex", transform(col("f"), x => exp(x - mx)))
        .withColumn("exs", aggregate(col("ex"), lit(0.0), (a, y) => a + y))
        .withColumn("p", transform(col("ex"), x => x / col("exs")))
        .drop("ex", "exs")
    }
    def mlogloss(df: DataFrame): Double =
      df.select(avg(-log(greatest(
          element_at(col("p"), col("label").cast("int") + 1), lit(1e-15)))))
        .head().getDouble(0)

    val acc = SparseBoost.ImportanceAcc(numFeat)
    val hist = new ArrayBuffer[Double](params.numRound)
    val forest = new ArrayBuffer[SparseBoost.SparseTree](params.numRound * K)
    // the scored (softmax'd) frame is computed ONCE per round and
    // serves both that round's history entry and the NEXT round's
    // gradients — no duplicate softmax scan
    var scored = withProbs(cur).cache()
    for (r <- 1 to params.numRound) {
      // XGBoost's `subsample`: one deterministic content-hash
      // Bernoulli sample per round ([[GraftBoost.roundSample]]),
      // shared by all K class trees
      val fitBase = GraftBoost.roundSample(scored, params.subsample,
        params.seed + 31L * r)
      val roundTrees = Array.tabulate(K) { k =>
        val pk = element_at(col("p"), k + 1)
        val yk = when(col("label") === k.toDouble, lit(1.0)).otherwise(lit(0.0))
        val g0 = pk - yk
        val h0 = greatest(pk * (lit(1.0) - pk), lit(HessFloor))
        val (g, h) = weightCol.map(col) match {
          case Some(w) => (g0 * w, h0 * w)
          case None => (g0, h0)
        }
        sc.setJobDescription(s"boost: r$r class-$k grow")
        SparseBoost.growTree(fitBase.withColumn("g", g).withColumn("h", h),
          edges, params, acc, allowed, constraints,
          params.seed ^ (1337L * ((r - 1) * K + k + 1)))
      }
      forest ++= roundTrees
      val bc = sc.broadcast(roundTrees)
      val upd = udf((v: Vector, f: Seq[Double]) => {
        val out = f.toArray
        var k = 0
        while (k < K) { out(k) += bc.value(k).valueOf(v); k += 1 }
        out
      })
      sc.setJobDescription(s"boost: r$r margin-update")
      val next = cur.withColumn("f", upd(col("features"), col("f")))
        .localCheckpoint()
      scored.unpersist(false)
      sc.setJobDescription(s"boost: r$r loss")
      scored = withProbs(next).cache()
      hist += mlogloss(scored)
      cur = next
    }
    scored.unpersist(false)
    val trees = forest.toArray
    (new MultiSparse.MultiSparseModel(s"softprob_${params.seed}", trees,
      Array.tabulate(trees.length)(_ % K), K, 0.0, "multi:softprob", acc),
      hist.toArray)
  }
}
