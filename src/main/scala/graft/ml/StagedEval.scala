package graft.ml

import org.apache.spark.ml.classification.{GBTClassificationModel, OneVsRestModel}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.regression.GBTRegressionModel
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Per-round staged evaluation over a trained GBT — the engine's
  * answer to the reference's arbitrary-metric `evals_result` and
  * `best_iteration` semantics (`core.py:120, 435-449, 476-479`),
  * which MLlib's loss-only early stopping can't express (SURVEY
  * §7.6b/c).
  *
  * One distributed pass computes the staged margins for EVERY
  * boosting round simultaneously (broadcast trees, incremental sum
  * per row), so the cost is O(rows × trees) — the same as a single
  * scoring pass — rather than one transform per round. Metrics are
  * then per-round aggregations:
  *  - "auc": rank-statistic (Mann-Whitney) per round
  *  - "logloss": mean log-loss of the sigmoid margin
  *  - "rmse": regression root-mean-square error of staged prediction
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

    // (initial margin, per-round margin increments) — closures keep
    // the walk uniform across MLlib GBT forests and the native sparse
    // forest (η already baked into SparseTree leaf values)
    // margins are emitted on the FULL-LOGIT scale (p = sigmoid(m)).
    // MLlib GBT classification raw scores are HALF logits
    // (p = sigmoid(2·raw)), so those steps are doubled here; the
    // native sparse and gblinear margins are full logits already —
    // one convention downstream, so the logloss metric is correct for
    // every model family (it used to assume half logits universally,
    // which mis-scored native/linear models)
    val (init: Double, steps: Array[Vector => Double]) = model.model match {
      case m: GBTClassificationModel =>
        (0.0, m.trees.zip(m.treeWeights).map { case (t, tw) =>
          (v: Vector) => 2.0 * tw * t.predict(v) })
      case m: GBTRegressionModel =>
        (0.0, m.trees.zip(m.treeWeights).map { case (t, tw) =>
          (v: Vector) => tw * t.predict(v) })
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
        s"staged evaluation needs a GBT, native sparse or freshly " +
        s"trained gblinear model, got ${m.getClass}")
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

  /** (round, per-example mlogloss, correct-indicator, weight) rows
    * for a OneVsRest-over-GBT multiclass model: one distributed pass
    * accumulates every class's staged margin simultaneously, applies
    * the same softmax as [[GraftBoost.predictProba]]'s OvR path per
    * round, and emits the per-example metric parts narrow so the
    * per-round metrics are plain groupBy aggregations — reference
    * `multi:softprob` eval-history semantics (`core.py:120, 580-590`).
    */
  private def stagedMulticlass(
      model: GraftBoost.GraftBoostModel,
      df: DataFrame,
      labelCol: String,
      weightCol: Option[String]
  ): DataFrame = {
    val data = graft.functions.GraftFunctions.fanOut(
      GraftBoost.assemble(df, model.featureCols, model.imputation)
      .withColumn("label", col(labelCol).cast("double"))
      .withColumn("w", weightCol.map(col(_).cast("double")).getOrElse(lit(1.0)))
      .select(col("features"), col("label"), col("w")))
    val spark = df.sparkSession
    import spark.implicits._

    val perClass = model.model match {
      case m: OneVsRestModel =>
        m.models.map {
          case g: GBTClassificationModel => (g.trees, g.treeWeights)
          case other => throw new UnsupportedOperationException(
            s"staged multiclass needs GBT per class, got ${other.getClass}")
        }
      case m => throw new UnsupportedOperationException(
        s"staged multiclass metrics need a OneVsRest model, got ${m.getClass}")
    }
    val b = spark.sparkContext.broadcast(perClass)

    data.as[(Vector, Double, Double)].mapPartitions { it =>
      val pc = b.value
      val nC = pc.length
      val rounds = pc.map(_._1.length).min
      it.flatMap { case (features, label, w) =>
        val li = label.toInt
        require(li >= 0 && li < nC && li.toDouble == label,
          s"label $label out of range for $nC classes (eval frame contains " +
          "a class the model was not trained on?)")
        val margins = new Array[Double](nC)
        (0 until rounds).iterator.map { r =>
          var c = 0
          while (c < nC) {
            margins(c) += pc(c)._2(r) * pc(c)._1(r).predict(features); c += 1
          }
          var mx = margins(0); var argmax = 0
          var i = 1
          while (i < nC) {
            if (margins(i) > mx) { mx = margins(i); argmax = i }; i += 1
          }
          var denom = 0.0
          i = 0
          while (i < nC) { denom += math.exp(margins(i) - mx); i += 1 }
          val p = math.exp(margins(li) - mx) / denom
          val correct = if (argmax == li) 1.0 else 0.0
          (r + 1, -math.log(math.max(p, 1e-15)), correct, w)
        }
      }
    }.toDF("round", "ll", "correct", "w")
  }

  /** Per-round metric values, index 0 = after first round. `weightCol`
    * reproduces the reference's `sample_weight_eval_set`
    * (`core.py:138-151`) for the weighted metrics (logloss/rmse/
    * mlogloss/merror — the reference's weighted eval path; AUC stays
    * unweighted). Binary/regression metrics need a single GBT model;
    * "mlogloss"/"merror" need a OneVsRest-over-GBT multiclass model.
    */
  def history(
      model: GraftBoost.GraftBoostModel,
      df: DataFrame,
      labelCol: String,
      metric: String,
      weightCol: Option[String] = None
  ): Array[Double] = {
    if (metric == "mlogloss" || metric == "merror") {
      val staged = stagedMulticlass(model, df, labelCol, weightCol)
      val m =
        if (metric == "mlogloss") (sum(col("ll") * col("w")) / sum(col("w"))).as("m")
        else (lit(1.0) - sum(col("correct") * col("w")) / sum(col("w"))).as("m")
      return staged.groupBy(col("round")).agg(m)
        .orderBy(col("round")).collect().map(_.getAs[Double]("m"))
    }
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
      case "rmse" =>
        staged.groupBy(col("round"))
          .agg(sqrt(sum(pow(col("margin") - col("label"), 2) * col("w")) / sum(col("w"))).as("m"))
      case "auc" => aucByRound(staged)
      case "aucpr" => aucprByRound(staged)
      case "aucpr-trapezoid" => aucprByRound(staged, trapezoid = true)
      case other =>
        throw new IllegalArgumentException(s"unknown metric: $other")
    }
    byRound.orderBy(col("round")).collect().map(_.getAs[Double]("m"))
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
    * logloss/rmse).
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

  /** In-fit early stopping on an ARBITRARY staged metric — the
    * reference's `early_stopping_rounds` with `eval_metric=auc`
    * (`core.py:435-449`, `test_core.py:104-146`), which MLlib's
    * loss-only `validationIndicatorCol` cannot express.
    *
    * MLlib GBT has no warm start, so the literal round-at-a-time loop
    * would retrain from scratch per round. Instead the fit runs in
    * DOUBLING CHUNKS: train `chunk` rounds, compute the full per-round
    * metric history in ONE staged pass, and stop as soon as the
    * history shows a stall ([[stalledAt]]); otherwise double the chunk
    * (capped at numRound) and retrain. When the metric stalls early —
    * the case early stopping exists for — total trained rounds stay
    * near the stall point instead of numRound; the worst case (no
    * stall) is bounded by 2·numRound of training, the price of no
    * warm start. The returned model is physically truncated to the
    * best round ([[truncateToBest]]'s cut), the history is clipped at
    * the stopped round exactly as the reference's `evals_result` is.
    *
    * @return (truncated model, best round (1-based), clipped history,
    *         total rounds actually trained across chunks)
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
    import org.apache.spark.ml.classification.{GBTClassificationModel, GraftModelBridge}
    require(params.objective == "binary:logistic" || params.objective == "reg:squarederror",
      "arbitrary-metric early stopping needs a single truncatable model " +
      "(binary:logistic or reg:squarederror — GBT or native sparse); " +
      "multiclass OvR has no truncation")
    var chunk = math.min(math.max(2 * earlyStoppingRounds, 8), params.numRound)
    var trained = 0
    while (true) {
      val m = GraftBoost.train(train, featureCols, labelCol,
        params.copy(numRound = chunk), weightCol)
      trained += chunk
      val hist = history(m, validation, labelCol, metric)
      // a one-class validation frame makes AUC 0/0 = NaN every round;
      // indexOf on NaN would then truncate at round 0 — fail by name
      require(!hist.exists(_.isNaN),
        s"$metric is NaN on the validation frame (single-class validation " +
        "set? AUC needs both labels) — early stopping cannot rank rounds")
      val stall = stalledAt(hist, metric, earlyStoppingRounds)
      if (stall.isDefined || chunk >= params.numRound) {
        val clipped = hist.take(stall.getOrElse(hist.length))
        val k = bestIteration(clipped, metric)
        val cut = m.model match {
          case g: GBTClassificationModel => GraftModelBridge.truncateClassifier(g, k)
          case g: GBTRegressionModel     => GraftModelBridge.truncateRegressor(g, k)
          case s: SparseBoost.SparseModel => s.truncate(k)
          case l: LinearBoost.LinearModel => l.truncate(k)
          case other => throw new UnsupportedOperationException(s"${other.getClass}")
        }
        return (m.copy(model = cut), k, clipped, trained)
      }
      chunk = math.min(chunk * 2, params.numRound)
    }
    throw new IllegalStateException("unreachable")
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
    import org.apache.spark.ml.classification.{GBTClassificationModel, GraftModelBridge}
    val hist = history(model, validation, labelCol, metric)
    val k = bestIteration(hist, metric)
    val cut = model.model match {
      case m: GBTClassificationModel => GraftModelBridge.truncateClassifier(m, k)
      case m: GBTRegressionModel     => GraftModelBridge.truncateRegressor(m, k)
      case m: SparseBoost.SparseModel => m.truncate(k)
      case m: LinearBoost.LinearModel => m.truncate(k)
      case m => throw new UnsupportedOperationException(s"${m.getClass}")
    }
    (model.copy(model = cut), k, hist)
  }
}
