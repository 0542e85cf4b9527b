package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Per-round staged evaluation of a trained model — the reference's
  * arbitrary-metric `evals_result` and `best_iteration` semantics
  * (`core.py:120, 435-449, 476-479`) on any frame, after the fit.
  * The round loop folds the same metrics over its validation rows as
  * it trains ([[SparseBoost.EarlyStop]]); this is the post-hoc form,
  * and the oracle those in-loop values are pinned against.
  *
  * Every round's margin comes from one projection: the `staged` output
  * of [[graft.plans.ForestScore]] walks each row through the forest
  * once, round by round, so the cost is O(rows × trees) — the same as
  * a single scoring pass — rather than one transform per round. The
  * array is posexploded into (round, label, margin, w) rows and each
  * metric is a per-round aggregation:
  *  - "auc", "aucpr", "aucpr-trapezoid": rank statistics per round
  *  - "logloss", "error": of the sigmoid margin
  *  - "rmse", "mae": of the staged prediction
  *  - "mlogloss", "merror": of a multiclass forest's softmax, over the
  *    round's K class margins
  */
object StagedEval {

  /** (round, label, margin, w) rows: each example's margin after every
    * round — for a multiclass forest (`multiclass`) its K class margins
    * (`margins`) instead — so per-round metrics are plain groupBy
    * aggregations.
    */
  private[graft] def stagedRows(
      model: GraftBoost.GraftBoostModel,
      df: DataFrame,
      labelCol: String,
      weightCol: Option[String],
      multiclass: Boolean
  ): DataFrame = {
    val staged = col("staged")
    // a multiclass forest's rounds: slices of K class margins
    val perRound = model.model match {
      case m: MultiSparse.MultiSparseModel if multiclass =>
        require(!m.dartFolded,
          "staged evaluation of a dart-folded forest: its tree prefixes " +
          "are no training-time round margins")
        val k = m.numClasses
        transform(sequence(lit(0), lit(m.numRounds - 1)),
          r => slice(staged, r * k + 1, lit(k)))
      case m if multiclass => throw new UnsupportedOperationException(
        s"mlogloss and merror need a multiclass forest, got ${m.getClass}")
      case m: SparseBoost.SparseModel if m.dartRescaled =>
        throw new UnsupportedOperationException(
          "staged evaluation is undefined for a DART forest whose " +
          "dropout rounds fired: the k/(k+1) leaf rescales mutate " +
          "earlier rounds' stored trees, so per-round prefix margins " +
          "do not correspond to any training-time round margin " +
          "(XGBoost likewise forbids ntree_limit with booster='dart')")
      case _: SparseBoost.SparseModel => staged
      case m: LinearBoost.LinearModel if m.snapshots.isDefined => staged
      case m => throw new UnsupportedOperationException(
        s"staged evaluation needs a native sparse or freshly trained " +
        s"gblinear model, got ${m.getClass}")
    }
    val margin = if (multiclass) "margins" else "margin"
    // fanOut: the staged walk does rounds × rows work per row — on a
    // single-row-group source that is ONE task without the by-number
    // repartition (see GraftBoost.train). A multiclass history sums in
    // the caller's partitions, the layout its values are pinned to.
    val slim = df.select((model.featureCols ++ Seq(labelCol) ++ weightCol).distinct.map(col): _*)
    val rows = if (multiclass) slim else graft.functions.GraftFunctions.fanOut(slim)
    GraftBoost.scoreNative(model, rows, "staged")
      .select(posexplode(perRound).as(Seq("r", margin)),
        col(labelCol).cast("double").as("label"),
        weightCol.fold(lit(1.0))(col(_).cast("double")).as("w"))
      .select((col("r") + 1).as("round"), col("label"), col(margin), col("w"))
  }

  /** The weighted per-round mean of a sum-decomposable metric. */
  private def meanByRound(metric: String): Column = {
    val (margin, label, w) = (col("margin"), col("label"), col("w"))
    val term = metric match {
      case "logloss" =>
        // p = sigmoid(margin): the staged margins are full logits
        val p = lit(1.0) / (lit(1.0) + exp(-margin))
        when(label === 1.0, -log(greatest(p, lit(1e-15))))
          .otherwise(-log(greatest(lit(1.0) - p, lit(1e-15))))
      case "error" => when((margin > 0.0) === (label === 1.0), 0.0).otherwise(1.0)
      case "rmse" => pow(margin - label, 2)
      case "mae" => abs(margin - label)
      case "mlogloss" =>
        // the max-shifted softmax of the round's class margins
        val m = col("margins")
        val e = transform(m, x => exp(x - array_max(m)))
        val p = element_at(e, label.cast("int") + 1) /
          aggregate(e, lit(0.0), (acc, x) => acc + x)
        -log(greatest(p, lit(1e-15)))
      case "merror" =>
        val m = col("margins")
        when(array_position(m, array_max(m)) - 1 === label.cast("int"), 0.0).otherwise(1.0)
      case other => throw new IllegalArgumentException(s"unknown metric: $other")
    }
    val mean = sum(term * w) / sum(w)
    (if (metric == "rmse") sqrt(mean) else mean).as(metric)
  }

  /** Per-round values of `metrics` over one staged pass; the
    * sum-decomposable ones share one aggregation.
    */
  private def byRound(staged: DataFrame, metrics: Seq[String]): Map[String, Array[Double]] = {
    val (rank, sums) = metrics.partition(m => m == "auc" || m.startsWith("aucpr"))
    val means = if (sums.isEmpty) Map.empty[String, Array[Double]] else {
      val rows = staged.groupBy(col("round")).agg(meanByRound(sums.head),
        sums.tail.map(meanByRound): _*).orderBy(col("round")).collect()
      sums.map(m => m -> rows.map(_.getAs[Double](m))).toMap
    }
    means ++ rank.map {
      case "auc" => "auc" -> aucByRound(staged)
      case m => m -> aucprByRound(staged, trapezoid = m == "aucpr-trapezoid")
    }
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
    val multiclass = metric == "mlogloss" || metric == "merror"
    byRound(stagedRows(model, df, labelCol, weightCol, multiclass), Seq(metric))(metric)
  }

  /** Per-round "mlogloss" and "merror" of a multiclass forest in one
    * staged pass.
    */
  def multiclassHistory(
      model: GraftBoost.GraftBoostModel,
      df: DataFrame,
      labelCol: String,
      weightCol: Option[String] = None
  ): Map[String, Array[Double]] =
    byRound(stagedRows(model, df, labelCol, weightCol, multiclass = true),
      Seq("mlogloss", "merror"))

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
    * single reducer, so the same code holds on a full corpus. Returns
    * the per-round values, index 0 = round 1, collected before the
    * sorted groups are released.
    */
  private[graft] def aucByRound(staged: DataFrame): Array[Double] = {
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
        .collect().map(_.getAs[Double]("m"))
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
      staged: DataFrame, trapezoid: Boolean = false): Array[Double] = {
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
        .collect().map(_.getAs[Double]("m"))
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
