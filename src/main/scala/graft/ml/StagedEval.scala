package graft.ml

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Per-round staged evaluation of a trained model — the reference's
  * arbitrary-metric `evals_result` and `best_iteration` semantics
  * (`core.py:120, 435-449, 476-479`) on any frame, after the fit.
  * The round loop folds the same metrics over its validation rows as
  * it trains ([[SparseBoost.EarlyStop]]); this is the post-hoc form,
  * and the oracle those in-loop values are pinned against.
  *
  * One distributed pass computes the staged margins for EVERY
  * boosting round simultaneously (broadcast trees, incremental sum
  * per row), so the cost is O(rows × trees) — the same as a single
  * scoring pass — rather than one transform per round. Metrics are
  * then per-round aggregations:
  *  - "auc", "aucpr", "aucpr-trapezoid": rank statistics per round
  *  - "logloss", "error": of the sigmoid margin
  *  - "rmse", "mae": of the staged prediction
  *  - "mlogloss", "merror": of a multiclass forest's softmax
  *    ([[MultiSparse.MultiSparseModel.stagedEval]])
  */
object StagedEval {

  /** (round → margin) rows: staged margin after each round for one
    * example. Emitted narrow (round, label, margin) so per-round
    * metrics are plain groupBy aggregations.
    */
  private def stagedMargins(
      model: GraftBoost.GraftBoostModel,
      df: DataFrame,
      labelCol: String,
      weightCol: Option[String]
  ): DataFrame = {
    // fanOut: the staged walk does rounds × rows work in one
    // mapPartitions — on a single-row-group source that is ONE task
    // without the by-number repartition (see GraftBoost.train)
    val data = graft.functions.GraftFunctions.fanOut(
      GraftBoost.assemble(df, model.featureCols, model.imputation,
        keepNaN = model.missingStrategy == "native")
      .withColumn("label", col(labelCol).cast("double"))
      .withColumn("w", weightCol.map(col(_).cast("double")).getOrElse(lit(1.0)))
      .select(col("features"), col("label"), col("w")))
    val spark = df.sparkSession
    import spark.implicits._

    // (initial margin, per-round margin increments; η is already baked
    // into the stored leaf values) — full logits for binary:logistic
    val (init: Double, steps: Array[Vector => Double]) = model.model match {
      case m: SparseBoost.SparseModel if m.dartRescaled =>
        throw new UnsupportedOperationException(
          "staged evaluation is undefined for a DART forest whose " +
          "dropout rounds fired: the k/(k+1) leaf rescales mutate " +
          "earlier rounds' stored trees, so per-round prefix margins " +
          "do not correspond to any training-time round margin " +
          "(XGBoost likewise forbids ntree_limit with booster='dart')")
      case m: SparseBoost.SparseModel =>
        // one step per ROUND: a parallel-tree round's T trees move
        // together (each is 1/T-scaled; a per-tree walk would score
        // fractional rounds and mis-place best_iteration)
        (m.base, m.trees.grouped(m.treesPerRound).map { group =>
          (v: Vector) => {
            val x = v.toArray
            var acc = 0.0
            var i = 0
            while (i < group.length) { acc += group(i).valueOf(x); i += 1 }
            acc
          }
        }.toArray)
      case m: LinearBoost.LinearModel if m.snapshots.isDefined =>
        // per-round margin deltas from the recorded weight snapshots:
        // step_r(x) = Δbias_r + Δw_r·x
        val snaps = m.snapshots.get
        val steps = snaps.indices.map { r =>
          val (w1, b1) = snaps(r)
          val (w0, b0) =
            if (r == 0) (new Array[Double](w1.length), 0.0) else snaps(r - 1)
          val dw = w1.indices.map(j => w1(j) - w0(j)).toArray
          val db = b1 - b0
          (v: Vector) => {
            var acc = db
            var j = 0
            while (j < dw.length) { acc += dw(j) * v(j); j += 1 }
            acc
          }
        }.toArray
        (m.base, steps)
      case m => throw new UnsupportedOperationException(
        s"staged evaluation needs a native sparse or freshly trained " +
        s"gblinear model, got ${m.getClass}")
    }
    val bTrees = spark.sparkContext.broadcast((init, steps))

    data.as[(Vector, Double, Double)].mapPartitions { it =>
      val (i0, ts) = bTrees.value
      it.flatMap { case (features, label, w) =>
        var margin = i0
        ts.indices.iterator.map { r =>
          margin += ts(r)(features)
          (r + 1, label, margin, w)
        }
      }
    }.toDF("round", "label", "margin", "w")
  }

  /** Per-round metric values, index 0 = after first round. `weightCol`
    * reproduces the reference's `sample_weight_eval_set`
    * (`core.py:138-151`) for the weighted metrics (every metric but the
    * rank ones, which stay unweighted). "mlogloss"/"merror" need a
    * multiclass forest, the others a single-margin model.
    */
  def history(
      model: GraftBoost.GraftBoostModel,
      df: DataFrame,
      labelCol: String,
      metric: String,
      weightCol: Option[String] = None
  ): Array[Double] = {
    if (metric == "mlogloss" || metric == "merror")
      return multiclassHistory(model, df, labelCol, weightCol)(metric)
    val staged = stagedMargins(model, df, labelCol, weightCol)
    val byRound: DataFrame = metric match {
      case "logloss" =>
        // p = sigmoid(margin) — stagedMargins normalizes every model
        // family to full logits
        val p = lit(1.0) / (lit(1.0) + exp(-col("margin")))
        val ll = when(col("label") === 1.0, -log(greatest(p, lit(1e-15))))
          .otherwise(-log(greatest(lit(1.0) - p, lit(1e-15))))
        staged.groupBy(col("round"))
          .agg((sum(ll * col("w")) / sum(col("w"))).as("m"))
      case "error" =>
        val wrong = when((col("margin") > 0.0) === (col("label") === 1.0), 0.0).otherwise(1.0)
        staged.groupBy(col("round"))
          .agg((sum(wrong * col("w")) / sum(col("w"))).as("m"))
      case "rmse" =>
        staged.groupBy(col("round"))
          .agg(sqrt(sum(pow(col("margin") - col("label"), 2) * col("w")) / sum(col("w"))).as("m"))
      case "mae" =>
        staged.groupBy(col("round"))
          .agg((sum(abs(col("margin") - col("label")) * col("w")) / sum(col("w"))).as("m"))
      case "auc" => aucByRound(staged)
      case "aucpr" => aucprByRound(staged)
      case "aucpr-trapezoid" => aucprByRound(staged, trapezoid = true)
      case other =>
        throw new IllegalArgumentException(s"unknown metric: $other")
    }
    byRound.orderBy(col("round")).collect().map(_.getAs[Double]("m"))
  }

  /** Per-round "mlogloss" and "merror" of a multiclass forest in one
    * staged pass ([[MultiSparse.MultiSparseModel.stagedEval]]).
    */
  def multiclassHistory(
      model: GraftBoost.GraftBoostModel,
      df: DataFrame,
      labelCol: String,
      weightCol: Option[String] = None
  ): Map[String, Array[Double]] = model.model match {
    case mm: MultiSparse.MultiSparseModel =>
      mm.stagedEval(GraftBoost.assemble(df, model.featureCols, model.imputation,
          keepNaN = model.missingStrategy == "native")
        .withColumn("label", col(labelCol).cast("double")), weightCol)
    case m => throw new UnsupportedOperationException(
      s"mlogloss and merror need a multiclass forest, got ${m.getClass}")
  }

  /** Exact per-round Mann-Whitney AUC with midrank tie handling,
    * computed without any per-round single-reducer window.
    *
    * U = #{(pos, neg) pairs with pos.margin > neg.margin}
    *     + ½·#{tied pairs};  AUC = U / (nPos · nNeg)
    *
    * Shape: (1) collapse ties into (round, margin) groups with
    * positive/negative counts — one hash aggregation; (2) range-
    * partition the groups on (round, margin) and sort within
    * partitions, so every round's margins ascend across partition
    * boundaries; (3) one small pass collects per-(partition, round)
    * negative totals (O(partitions × rounds) values on the driver —
    * the only driver data); (4) one distributed pass walks each
    * partition with a running negatives-below counter seeded from the
    * prefix offsets and sums p_g · (negBelow + n_g/2) per round.
    * Identical midrank math to a global rank window, but every stage
    * is a hash agg or a per-partition scan — no round lands on a
    * single reducer, so the same code holds on a full corpus.
    */
  /** Shared machinery of the per-round rank statistics ([[aucByRound]]
    * / [[aucprByRound]]): collapse ties into (round, margin, pos, neg)
    * groups — one hash aggregation — range-partition + sort them on
    * (round, margin asc|desc), and collect per-(partition, round)
    * prefix offsets of the (pos, neg) totals (O(partitions × rounds)
    * values — the only driver data). Each metric then runs ONE
    * distributed walk of the sorted partitions with counters seeded
    * from the offsets; only the per-group contribution formula
    * differs. Returns (sorted persisted groups, broadcast offsets,
    * unpersist thunk).
    */
  private def tieGroupsWithOffsets(staged: DataFrame, descending: Boolean): (
      Dataset[(Int, Double, Long, Long)],
      org.apache.spark.broadcast.Broadcast[Map[(Int, Int), (Long, Long)]],
      () => Unit) = {
    val spark = staged.sparkSession
    import spark.implicits._
    val grouped = staged.groupBy(col("round"), col("margin")).agg(
        sum(when(col("label") === 1.0, 1L).otherwise(0L)).as("p"),
        sum(when(col("label") === 0.0, 1L).otherwise(0L)).as("n"))
      .as[(Int, Double, Long, Long)]
    val m = if (descending) col("margin").desc else col("margin").asc
    val nParts = math.max(2, spark.sessionState.conf.numShufflePartitions)
    val sorted = grouped
      .repartitionByRange(nParts, col("round"), m)
      .sortWithinPartitions(col("round"), m)
      .persist()
    val partTot = sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val acc = scala.collection.mutable.LinkedHashMap.empty[Int, (Long, Long)]
      it.foreach { case (r, _, p, n) =>
        val (a, b) = acc.getOrElse(r, (0L, 0L))
        acc(r) = (a + p, b + n)
      }
      acc.iterator.map { case (r, (p, n)) => (pid, r, p, n) }
    }.collect()
    val offsets: Map[(Int, Int), (Long, Long)] =
      partTot.groupBy(_._2).flatMap { case (r, arr) =>
        var cp = 0L; var cn = 0L
        arr.sortBy(_._1).map { case (pid, _, p, n) =>
          val o = ((pid, r), (cp, cn)); cp += p; cn += n; o
        }
      }
    (sorted, spark.sparkContext.broadcast(offsets), () => {
      sorted.unpersist(); ()
    })
  }

  private[graft] def aucByRound(staged: DataFrame): DataFrame = {
    val spark = staged.sparkSession
    import spark.implicits._
    // ascending margins: the walk counts negatives BELOW each group
    val (sorted, bOff, release) = tieGroupsWithOffsets(staged, descending = false)
    try {
      val contrib = sorted.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val off = bOff.value
        val negBelow = scala.collection.mutable.HashMap.empty[Int, Long]
        val u = scala.collection.mutable.LinkedHashMap.empty[Int, (Double, Long, Long)]
        it.foreach { case (r, _, p, n) =>
          val below = negBelow.getOrElse(r,
            off.getOrElse((pid, r), (0L, 0L))._2)
          val (u0, p0, n0) = u.getOrElse(r, (0.0, 0L, 0L))
          u(r) = (u0 + p * (below + n / 2.0), p0 + p, n0 + n)
          negBelow(r) = below + n
        }
        u.iterator.map { case (r, (uu, pp, nn)) => (r, uu, pp, nn) }
      }.toDF("round", "u", "np", "nn")
      contrib.groupBy(col("round"))
        .agg((sum(col("u")) / (sum(col("np")) * sum(col("nn")))).as("m"))
        .orderBy(col("round"))
        .localCheckpoint(true)
    } finally release()
  }

  /** Exact per-round PR-AUC over descending-margin tie groups, in two
    * interpolation flavors:
    *
    *  - step (`trapezoid = false`, the `aucpr` default): AVERAGE
    *    PRECISION, AP = Σ_g ΔR_g · P_g — sklearn
    *    `average_precision_score` semantics (each tie group
    *    contributes p_g · precision AFTER absorbing the whole group).
    *  - trapezoid (`trapezoid = true`, metric `aucpr-trapezoid`):
    *    XGBoost-style linear interpolation between consecutive PR
    *    points, Σ_g ΔR_g · (P_g + P_{g-1})/2, anchored at
    *    P_0 = 1 for the zero-recall point (the PR-curve limit
    *    convention). On coarse curves (few distinct margins, heavy
    *    ties) the two differ materially — StagedEvalSpec pins the
    *    divergence on a tie fixture; both induce the same monotone
    *    better-than ranking on smooth curves.
    *
    * Same no-single-reducer shape as [[aucByRound]] (shared
    * [[tieGroupsWithOffsets]] machinery, descending margins): one
    * distributed walk with running TP/FP counters seeded from the
    * prefix offsets; the previous group's precision needed by the
    * trapezoid rule falls out of the SAME running state (tp0/(tp0+fp0)
    * before absorbing the group — exact even at partition boundaries,
    * where the offsets seed it), so no extra pass. ΔR_g = p_g / nPos
    * lets the closing division by nPos ride the final hash
    * aggregation.
    */
  private[graft] def aucprByRound(
      staged: DataFrame, trapezoid: Boolean = false): DataFrame = {
    val spark = staged.sparkSession
    import spark.implicits._
    val (sorted, bOff, release) = tieGroupsWithOffsets(staged, descending = true)
    try {
      val contrib = sorted.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val off = bOff.value
        val cum = scala.collection.mutable.HashMap.empty[Int, (Long, Long)]
        val a = scala.collection.mutable.LinkedHashMap.empty[Int, (Double, Long)]
        it.foreach { case (r, _, p, n) =>
          val (tp0, fp0) = cum.getOrElse(r, off.getOrElse((pid, r), (0L, 0L)))
          val tp = tp0 + p
          val fp = fp0 + n
          val (a0, p0) = a.getOrElse(r, (0.0, 0L))
          val prec = if (tp + fp > 0) tp.toDouble / (tp + fp).toDouble else 0.0
          val g =
            if (!trapezoid) prec
            else {
              val prevPrec =
                if (tp0 + fp0 > 0) tp0.toDouble / (tp0 + fp0).toDouble else 1.0
              (prec + prevPrec) / 2.0
            }
          a(r) = (a0 + p * g, p0 + p)
          cum(r) = (tp, fp)
        }
        a.iterator.map { case (r, (aa, pp)) => (r, aa, pp) }
      }.toDF("round", "a", "np")
      contrib.groupBy(col("round"))
        .agg((sum(col("a")) / sum(col("np"))).as("m"))
        .orderBy(col("round"))
        .localCheckpoint(true)
    } finally release()
  }

  /** Best round under the metric (1-based, like `best_iteration`+1 in
    * the reference's 0-based counting; maximize AUC/PR-AUC, minimize
    * the others).
    */
  def bestIteration(hist: Array[Double], metric: String): Int = {
    val idx = metric match {
      case "auc" | "aucpr" | "aucpr-trapezoid" => hist.indexOf(hist.max)
      case _               => hist.indexOf(hist.min)
    }
    idx + 1
  }

  /** First STOPPED round under the reference's early-stopping rule
    * (`core.py:435-449`): stop at round r when the best metric value
    * so far is `patience` or more rounds behind r (strict
    * improvement, like XGBoost). Returns the stopped round (1-based)
    * or None if the metric never stalls within `hist`.
    */
  def stalledAt(hist: Array[Double], metric: String, patience: Int): Option[Int] = {
    require(patience >= 1, s"earlyStoppingRounds must be >= 1, got $patience")
    val better: (Double, Double) => Boolean =
      if (metric == "auc" || metric.startsWith("aucpr")) (v, b) => v > b
      else (v, b) => v < b
    var best = hist.headOption.getOrElse(return None)
    var bestRound = 1
    for (r <- 2 to hist.length) {
      if (better(hist(r - 1), best)) { best = hist(r - 1); bestRound = r }
      if (r - bestRound >= patience) return Some(r)
    }
    None
  }

  /** In-fit early stopping on an ARBITRARY metric — the reference's
    * `early_stopping_rounds` with `eval_metric=auc` (`core.py:435-449`,
    * `test_core.py:104-146`): ONE fit over `train` with `validation`'s
    * rows flagged as validation rows ([[SparseBoost.EarlyStop]]). The
    * loop evaluates `metric` on them after every round and stops at the
    * first [[stalledAt]] round, so at most stall + 1 rounds train; the
    * returned model is cut to the best round, the history clipped at
    * the stopped round exactly as the reference's `evals_result` is.
    * `validation` needs the feature and label columns; its rows are
    * unweighted.
    *
    * @return (truncated model, best round (1-based), clipped history,
    *         rounds trained)
    */
  def fitWithEarlyStopping(
      train: DataFrame,
      validation: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      params: GraftBoost.BoostParams,
      metric: String,
      earlyStoppingRounds: Int,
      weightCol: Option[String] = None
  ): (GraftBoost.GraftBoostModel, Int, Array[Double], Int) = {
    require(earlyStoppingRounds >= 1,
      s"earlyStoppingRounds must be >= 1, got $earlyStoppingRounds")
    val flag = "graft_validation"
    val valRows = weightCol.filterNot(validation.columns.contains)
      .fold(validation)(w => validation.withColumn(w, lit(1.0)))
    val both = train.withColumn(flag, lit(false))
      .unionByName(valRows.withColumn(flag, lit(true)), allowMissingColumns = true)
    val m = GraftBoost.trainEarlyStopped(both, featureCols, labelCol, params, weightCol,
      SparseBoost.EarlyStop(flag, Some(metric), earlyStoppingRounds))
    val hist = m.evalsResult("validation")(metric)
    (m, bestIteration(hist, metric), hist, hist.length)
  }

  /** Cut the model down to its best iteration under `metric` on a
    * validation frame — the reference's `best_ntree_limit` applied
    * physically (`core.py:476-479`): the returned model scores with
    * exactly the selected number of trees.
    */
  def truncateToBest(
      model: GraftBoost.GraftBoostModel,
      validation: DataFrame,
      labelCol: String,
      metric: String
  ): (GraftBoost.GraftBoostModel, Int, Array[Double]) = {
    val hist = history(model, validation, labelCol, metric)
    val k = bestIteration(hist, metric)
    val cut = model.model match {
      case m: SparseBoost.SparseModel => m.truncate(k)
      case m: MultiSparse.MultiSparseModel => m.truncate(k)
      case m: LinearBoost.LinearModel => m.truncate(k)
      case m => throw new UnsupportedOperationException(s"${m.getClass}")
    }
    (model.copy(model = cut), k, hist)
  }
}
