package graft.ml

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.Model
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Linear booster — XGBoost's `booster="gblinear"` reached through
  * the reference's params passthrough (`core.py:164-321` forwards the
  * whole dict). Boosted coordinate descent on an elastic-net
  * regularized linear model:
  *
  *   margin(x) = base + b + w·x,
  *   round r:  minimize Σ_i [g_i·d + ½h_i·d²] + ½λ(w_j+d)² + α|w_j+d|
  *             per coordinate via the closed-form soft threshold
  *             w_j' = S(H_j·w_j − G_j, α)/(H_j + λ),
  *
  * with G_j = Σ g_i·x_ij, H_j = Σ h_i·x_ij² — XGBoost's shotgun
  * updater's update rule, applied SIMULTANEOUSLY to every coordinate
  * (Jacobi step) and damped by η, exactly the parallel lock-free
  * semantics of shotgun without its nondeterministic interleaving.
  * The bias moves first each round (Newton step −Σg/Σh, unpenalized,
  * XGBoost convention) and the coordinate gradients are re-centered
  * through the cross-moment B_j = Σ h_i·x_ij, so the feature updates
  * see the post-bias quadratic model without a second pass.
  *
  * ONE distributed pass per round: margins are recomputed inline from
  * the broadcast (model-sized) weight vector, and the pass emits the
  * [Σg, Σh, {G_j, H_j, B_j}] block — 3·numFeat + 2 doubles — merged
  * in partition-index order through [[PartialFold]] (bit-stable, like
  * [[SparseBoost]]'s histograms; distributed block folds above
  * PartialFold.BlockSize partitions). No margin column, no checkpoint
  * chain, nothing row-sized ever returns to the driver.
  *
  * Objectives: `binary:logistic` and `reg:squarederror`. With α = 0
  * and enough rounds the squared-error fit converges to the exact
  * ridge solution (H is constant, so the fixed point of the damped
  * Jacobi iteration IS the normal-equations solution — pinned against
  * a closed-form solve in LinearBoostSpec).
  */
object LinearBoost {

  /** The trained linear booster: margin = base + bias + w·x. */
  final class LinearModel(
      override val uid: String,
      val weights: Array[Double],
      val bias: Double,
      val base: Double,
      val objective: String,
      /** Per-round (weights, bias) snapshots (training-time only; not
        * persisted) — the staged-evaluation / best-round-truncation
        * surface [[StagedEval]] gives tree models, extended to the
        * linear booster. Model-sized: numRound × numFeat doubles.
        */
      val snapshots: Option[Array[(Array[Double], Double)]] = None,
      /** Per-round coordinate indices the feature_selector actually
        * moved (training-time diagnostics, not persisted) — the
        * surface the ml_gblinear selector gates verify MECHANISM
        * properties on (cyclic/shuffle coverage, random determinism)
        * instead of data-dependent loss inequalities. Model-sized:
        * numRound × top_k ints.
        */
      val selectedHistory: Option[Array[Array[Int]]] = None
  ) extends Model[LinearModel] {

    override def copy(extra: ParamMap): LinearModel =
      new LinearModel(uid, weights, bias, base, objective, snapshots,
        selectedHistory)

    /** The model as of round `rounds` (1-based) — exact: coordinate
      * descent is a state sequence, so truncation replays the
      * recorded snapshot rather than un-summing anything.
      */
    def truncate(rounds: Int): LinearModel = {
      val snaps = snapshots.getOrElse(throw new UnsupportedOperationException(
        "per-round snapshots are training-time state; a reloaded " +
        "gblinear model cannot be truncated"))
      require(rounds >= 1 && rounds <= snaps.length,
        s"rounds must be in [1, ${snaps.length}], got $rounds")
      val (w, b) = snaps(rounds - 1)
      new LinearModel(uid, w.clone(), b, base, objective,
        Some(snaps.take(rounds)), selectedHistory.map(_.take(rounds)))
    }

    override def transformSchema(schema: StructType): StructType =
      schema.add(StructField("prediction", DoubleType))

    def marginOf(x: Array[Double]): Double = {
      var f = base + bias
      var j = 0
      while (j < weights.length) { f += weights(j) * x(j); j += 1 }
      f
    }

    def probOf(x: Array[Double]): Double = 1.0 / (1.0 + math.exp(-marginOf(x)))

    def predictOne(x: Array[Double]): Double = objective match {
      case "binary:logistic" => if (marginOf(x) > 0.0) 1.0 else 0.0
      case _ => marginOf(x)
    }

    /** Appends `prediction`: the [[graft.plans.ForestScore]] projection
      * over the `features` vector, whose scorer reads the weights and
      * bias only — never the per-round snapshots.
      */
    override def transform(ds: org.apache.spark.sql.Dataset[_]): DataFrame =
      ds.withColumn("prediction", graft.plans.ForestScore.overVector(ds.sparkSession,
        this, "prediction", col("features"), None))
  }

  /** Train the linear booster on a frame carrying `features` (dense
    * vector, NO NaN — gblinear has no sparse-skip routing) and
    * `label`; optional row weights scale (g, h) as in the tree loops.
    * Under `earlyStop` the flagged rows move no coordinate: each stats
    * pass folds their loss apart (the objective's own metric; no other
    * is available here), and the loop stops and cuts to the best round
    * as the tree loop does ([[SparseBoost.EarlyStop]]).
    *
    * @return model + per-round train loss history (logloss / rmse) +
    *         per-round validation history (empty without `earlyStop`)
    */
  def train(
      data: DataFrame,
      params: GraftBoost.BoostParams,
      weightCol: Option[String] = None,
      earlyStop: Option[SparseBoost.EarlyStop] = None
  ): (LinearModel, Array[Double], Array[Double]) = {
    require(Set("binary:logistic", "reg:squarederror").contains(params.objective),
      s"gblinear supports binary:logistic and reg:squarederror, got ${params.objective}")
    val binary = params.objective == "binary:logistic"
    val metric = if (binary) "logloss" else "rmse"
    earlyStop.flatMap(_.metric).foreach(m => require(m == metric,
      s"gblinear early stopping folds its own $metric, not $m"))
    val keep = Seq(col("features"), col("label").cast("double").as("label")) ++
      weightCol.map(c => col(c).cast("double").as("w")) ++
      earlyStop.map(es => coalesce(col(es.col).cast("boolean"), lit(false)).as("v"))
    val src = data.select(keep: _*)
    val hasW = weightCol.isDefined
    val vIx = if (earlyStop.isEmpty) -1 else if (hasW) 3 else 2
    val trainSrc = if (earlyStop.isEmpty) src else src.filter(!col("v"))

    val numFeat = src.select(col("features")).head().getAs[Vector](0).size
    val base =
      if (!params.baseScore.isNaN) params.baseScore
      else if (binary) 0.0 else 0.5
    val lambda = params.lambdaL2
    val alpha = params.alphaL1
    val eta = params.eta

    val weights = new Array[Double](numFeat)
    var bias = 0.0
    val hist = new ArrayBuffer[Double](params.numRound)
    val valHist = new ArrayBuffer[Double](params.numRound)
    val snaps = new ArrayBuffer[(Array[Double], Double)](params.numRound)
    val selHist = new ArrayBuffer[Array[Int]](params.numRound)
    // loss denominator: total weight (or row count), one action
    val denom = math.max(
      if (hasW) trainSrc.select(sum(col("w"))).head().getDouble(0)
      else trainSrc.count().toDouble, 1e-12)

    val sc = src.sparkSession.sparkContext
    // one pass: [Σg, Σh, loss, {G_j, H_j, B_j}] at current margins,
    // then the validation rows' (loss, count)
    val size = 3 + numFeat * 3 + (if (vIx >= 0) 2 else 0)
    def statsPass(): Array[Double] = {
      val bcW = sc.broadcast((weights.clone(), bias))
      val partials = src.rdd.mapPartitions { it =>
        val (wv, bv) = bcW.value
        val acc = new Array[Double](size)
        it.foreach { row =>
          val v = row.getAs[Vector](0)
          val y = row.getDouble(1)
          val rw = if (hasW) row.getDouble(2) else 1.0
          var f = base + bv
          var j = 0
          while (j < numFeat) { f += wv(j) * v(j); j += 1 }
          if (vIx >= 0 && row.getBoolean(vIx)) {
            acc(size - 2) +=
              (if (!binary) (f - y) * (f - y)
              else {
                val p = 1.0 / (1.0 + math.exp(-f))
                val pc = math.min(math.max(p, 1e-15), 1.0 - 1e-15)
                -(y * math.log(pc) + (1.0 - y) * math.log(1.0 - pc))
              })
            acc(size - 1) += 1.0
          } else {
            var g = 0.0
            var h = 0.0
            if (binary) {
              val p = 1.0 / (1.0 + math.exp(-f))
              g = (p - y) * rw
              h = math.max(p * (1.0 - p), 1e-16) * rw
              val pc = math.min(math.max(p, 1e-15), 1.0 - 1e-15)
              acc(2) += -rw * (y * math.log(pc) + (1.0 - y) * math.log(1.0 - pc))
            } else {
              g = (f - y) * rw
              h = rw
              acc(2) += rw * (f - y) * (f - y)
            }
            acc(0) += g
            acc(1) += h
            j = 0
            while (j < numFeat) {
              val x = v(j)
              val o = 3 + j * 3
              acc(o) += g * x
              acc(o + 1) += h * x * x
              acc(o + 2) += h * x
              j += 1
            }
          }
        }
        Iterator.single(acc)
      }
      // deterministic partition-index-ordered merge (distributed
      // block folds above PartialFold.BlockSize partitions)
      PartialFold.sum(partials, size)
    }
    def lossOf(s: Array[Double]): Double =
      if (binary) s(2) / denom else math.sqrt(s(2) / denom)

    // numRound + 1 passes total: each round UPDATES from the previous
    // pass's stats, then the next pass doubles as both that round's
    // post-update loss (XGBoost evals_result convention) and the
    // following round's gradient source
    // coordinates moved per round under a selective feature_selector
    val k =
      if (params.topK > 0) math.min(params.topK, numFeat) else numFeat
    // ONE per-fit permutation for the "shuffle" selector, seeded by
    // params.seed alone; rounds advance a cyclic window over it.
    // XGBoost's shuffled-cyclic keeps cyclic's coverage guarantee
    // (every coordinate touched every ⌈numFeat/k⌉ rounds) — a fresh
    // per-round permutation can starve hash-unlucky coordinates for
    // many rounds under small top_k.
    lazy val shufflePerm: IndexedSeq[Int] =
      (0 until numFeat).sortBy(j =>
        (GraftBoost.fmix64(params.seed ^ (j * 0xc2b2ae3d27d4eb4fL)), j))
    var s = statsPass()
    var r = 1
    while (r <= params.numRound &&
        earlyStop.forall(es => StagedEval.stalledAt(valHist.toArray, metric, es.patience).isEmpty)) {
      val gSum = s(0)
      val hSum = s(1)

      // bias first (unpenalized Newton step), then the SELECTED
      // coordinates against the bias-adjusted gradients G_j + Δb·B_j
      val db = if (hSum > 0) eta * (-gSum / hSum) else 0.0
      bias += db
      // propose every coordinate's damped soft-threshold step once,
      // then apply only the selector's choice (see BoostParams
      // .featureSelector — ranking signals are driver-side over the
      // model-sized stats block, never a second distributed pass)
      val prop = new Array[Double](numFeat)
      val grad = new Array[Double](numFeat)
      var j = 0
      while (j < numFeat) {
        val o = 3 + j * 3
        val gj = s(o) + db * s(o + 2)
        val hj = s(o + 1)
        grad(j) = math.abs(gj)
        if (hj > 0) {
          val z = hj * weights(j) - gj
          val wNew = math.signum(z) * math.max(math.abs(z) - alpha, 0.0) / (hj + lambda)
          prop(j) = eta * (wNew - weights(j))
        }
        j += 1
      }
      val chosen: Seq[Int] = params.featureSelector match {
        case "shotgun" => 0 until numFeat
        case "greedy" if k >= numFeat => 0 until numFeat
        case "greedy" =>
          // largest gradient magnitude first; index tie-break
          (0 until numFeat).sortBy(j => (-grad(j), j)).take(k)
        case "thrifty" if k >= numFeat => 0 until numFeat
        case "thrifty" =>
          // largest univariate weight-change proposal first
          (0 until numFeat).sortBy(j => (-math.abs(prop(j)), j)).take(k)
        case "cyclic" =>
          // mod in LONG first: (r-1)*k can exceed Int.MaxValue and a
          // wrapped negative index would crash the weight update
          (0 until k).map(i => (((r - 1).toLong * k + i) % numFeat).toInt)
        case "shuffle" =>
          // cyclic window over the ONE per-fit shuffled order
          // (XGBoost's "similar to cyclic but with random feature
          // shuffling prior to each update" — hash-ranked, no RNG)
          (0 until k).map(i =>
            shufflePerm((((r - 1).toLong * k + i) % numFeat).toInt))
        case "random" =>
          // with-replacement draws, deterministic per (seed, r, i)
          (0 until k).map { i =>
            val h = GraftBoost.fmix64(
              params.seed ^ (r * 0xff51afd7ed558ccdL) ^
                (i * 0x9e3779b97f4a7c15L))
            java.lang.Math.floorMod(h, numFeat.toLong).toInt
          }.distinct
      }
      chosen.foreach(j => weights(j) += prop(j))
      selHist += chosen.toArray
      s = statsPass()
      hist += lossOf(s)
      if (vIx >= 0) {
        val v = s(size - 2) / s(size - 1)
        valHist += (if (binary) v else math.sqrt(v))
      }
      snaps += ((weights.clone(), bias))
      r += 1
    }
    val model = new LinearModel(s"gblinear_${params.seed}", weights, bias, base,
      params.objective, Some(snaps.toArray), Some(selHist.toArray))
    (if (earlyStop.isEmpty) model
      else model.truncate(StagedEval.bestIteration(valHist.toArray, metric)),
      hist.toArray, valHist.toArray)
  }
}
