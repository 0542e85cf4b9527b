package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import SparseBoost.Block

/** One boosting objective of the round loop ([[SparseBoost.train]]).
  * The reference forwards its params dict to `xgb.train`
  * (`core.py:164-321`), where the objective only supplies gradients;
  * here too, one value per objective string carries what differs and
  * the loop, the tree grower and the margin bookkeeping are shared:
  *
  *  - [[channels]]: margin channels per row K — 1, or the class count
  *    under `multi:softprob` (a block's margins are then n × K and a
  *    round grows K trees),
  *  - [[defaultBase]]: the start margin when `base_score` is unset,
  *  - [[evaluate]]: per-row Scala functions over a training
  *    [[SparseBoost.Block]] — the loss partial at the round's margins
  *    and the next round's instance-weighted (g, h) per channel; for
  *    ranking, the pair-gradient walk over the contiguous groups of a
  *    frame partitioned by group once at entry ([[layout]]). Their
  *    `exp` and `log` are `StrictMath`'s, as Spark SQL's were, so the
  *    gradients are the bits the SQL forms gave,
  *  - the leaf rule: the grower's Newton leaves, or the α-quantile
  *    reset of `reg:quantileerror` ([[leafQuantile]]),
  *  - the train-history loss ([[loss]]) and its metric name, and the
  *    sum-decomposable eval metrics the loop folds over validation rows
  *    ([[sumMetric]]).
  *
  * Validation rows (a block's `valid` flags) count toward no loss
  * partial here; the loop folds their metric apart.
  */
sealed abstract class Objective(val name: String, val metricName: String)
    extends Serializable {
  def channels: Int = 1
  /** Start margin when `base_score` is unset. */
  def defaultBase(src: DataFrame): Double = 0.0
  /** Input columns read beyond features, label and weight. */
  def inputs: Seq[Column] = Nil
  /** The training rows' partition layout, set once at entry. */
  def layout(src: DataFrame): DataFrame = src
  /** Whether rows carry an instance weight, given a user weight column. */
  def weighted(userWeights: Boolean): Boolean = userWeights
  /** A row's instance weight from its user weight (1.0 without one). */
  def rowWeight(user: Double, label: Double): Double = user
  /** DART drops trees from one per-row margin. */
  def supportsDart: Boolean = false
  /** Some(α): every leaf becomes η · the α-quantile of its residuals. */
  def leafQuantile: Option[Double] = None
  /** The block's loss partial (sum, count) at margins `f` (n × K); when
    * `g` is not null, also fills (g, h) (n × K, instance-weighted) at
    * margins f − s (no `s`: f) and returns the row order the grower
    * accumulates them in (null: block order).
    */
  def evaluate(b: Block, f: Array[Double], s: Array[Double],
      g: Array[Double], h: Array[Double]): (Array[Double], Array[Int])
  /** The history value of the partials folded over all blocks. */
  def loss(partial: Array[Double]): Double = partial(0) / partial(1)
  /** The sum-decomposable eval metric `name` over this objective's K
    * margin channels; None when `name` is not one (a rank metric).
    */
  def sumMetric(name: String): Option[Objective.SumMetric] =
    Objective.SumMetric.generic(name, channels)
}

object Objective {

  /** Whether block row i trains (it is no validation row). */
  @inline private def trains(b: Block, i: Int): Boolean =
    b.valid == null || !b.valid(i)

  /** An eval metric folded as (Σ term, row count) over the rows it
    * scores: `term` reads row i's label and its K margins at offset
    * o = i·K; `value` finishes the folded sums.
    */
  final case class SumMetric(
      term: (Double, Array[Double], Int) => Double,
      value: (Double, Double) => Double = _ / _
  ) {
    /** (Σ term, count) over a block's validation rows at margins f. */
    private[ml] def partial(b: Block, f: Array[Double], k: Int): Array[Double] = {
      var sum = 0.0
      var n = 0
      var i = 0
      while (i < b.n) {
        if (b.valid(i)) { sum += term(b.label(i), f, i * k); n += 1 }
        i += 1
      }
      Array(sum, n.toDouble)
    }
  }

  object SumMetric {
    /** The metrics [[StagedEval.history]] computes, in its formulas:
      * logloss, error, rmse and mae over one channel; mlogloss and
      * merror over K.
      */
    def generic(name: String, k: Int): Option[SumMetric] = (name, k) match {
      case ("logloss", 1) => Some(SumMetric { (y, f, o) =>
        val p = 1.0 / (1.0 + StrictMath.exp(-f(o)))
        -StrictMath.log(math.max(if (y == 1.0) p else 1.0 - p, 1e-15))
      })
      case ("error", 1) => Some(SumMetric((y, f, o) =>
        if ((f(o) > 0.0) == (y == 1.0)) 0.0 else 1.0))
      case ("rmse", 1) => Some(SumMetric((y, f, o) => (f(o) - y) * (f(o) - y),
        (s, n) => StrictMath.sqrt(s / n)))
      case ("mae", 1) => Some(SumMetric((y, f, o) => math.abs(f(o) - y)))
      case ("mlogloss", _) if k > 1 => Some(SumMetric((y, f, o) =>
        softmaxLoss(f, o, k, y, new Array[Double](k))))
      case ("merror", _) if k > 1 => Some(SumMetric { (y, f, o) =>
        var am = 0
        var c = 1
        while (c < k) { if (f(o + c) > f(o + am)) am = c; c += 1 }
        if (am.toDouble == y) 0.0 else 1.0
      })
      case _ => None
    }
  }

  /** Row mlogloss at margins f(o until o + k): fills `p` with the
    * max-shifted softmax, its sum taken left to right.
    */
  private def softmaxLoss(f: Array[Double], o: Int, k: Int, y: Double,
      p: Array[Double]): Double = {
    var mx = f(o)
    var c = 1
    while (c < k) { if (f(o + c) > mx) mx = f(o + c); c += 1 }
    var exs = 0.0
    c = 0
    while (c < k) { p(c) = StrictMath.exp(f(o + c) - mx); exs += p(c); c += 1 }
    c = 0
    while (c < k) { p(c) = p(c) / exs; c += 1 }
    -StrictMath.log(math.max(p(y.toInt), 1e-15))
  }

  /** (g, h) and loss are per-row functions of one margin and the label;
    * the history is the mean row loss.
    */
  sealed abstract class PerRow(name: String, metricName: String)
      extends Objective(name, metricName) {
    /** Unweighted (g, h) of a row at margin fm, written at index i. */
    protected def gradient(y: Double, fm: Double, g: Array[Double],
        h: Array[Double], i: Int): Unit
    protected def rowLoss(y: Double, f: Double): Double
    override def supportsDart: Boolean = true
    def evaluate(b: Block, f: Array[Double], s: Array[Double],
        g: Array[Double], h: Array[Double]): (Array[Double], Array[Int]) = {
      var sum = 0.0
      var n = 0
      var i = 0
      while (i < b.n) {
        val y = b.label(i)
        if (trains(b, i)) { sum += rowLoss(y, f(i)); n += 1 }
        if (g != null) {
          gradient(y, if (s == null) f(i) else f(i) - s(i), g, h, i)
          if (b.weight != null) {
            g(i) = g(i) * b.weight(i)
            h(i) = h(i) * b.weight(i)
          }
        }
        i += 1
      }
      (Array(sum, n.toDouble), null)
    }
    /** The objective's own metric (the deviances, pinball) folds its
      * row loss.
      */
    override def sumMetric(name: String): Option[SumMetric] =
      super.sumMetric(name).orElse(
        if (name == metricName) Some(SumMetric((y, f, o) => rowLoss(y, f(o)),
          (s, n) => loss(Array(s, n))))
        else None)
  }

  /** XGBoost base_score = 0.5, margin 0 for logistic. */
  final case class Logistic(scalePosWeight: Double)
      extends PerRow("binary:logistic", "logloss") {
    protected def gradient(y: Double, fm: Double, g: Array[Double],
        h: Array[Double], i: Int): Unit = {
      val p = 1.0 / (1.0 + StrictMath.exp(-fm))
      g(i) = p - y
      h(i) = math.max(p * (1.0 - p), 1e-16)
    }
    /** user weight × scale_pos_weight on positives */
    override def weighted(userWeights: Boolean): Boolean =
      userWeights || scalePosWeight != 1.0
    override def rowWeight(user: Double, label: Double): Double =
      if (scalePosWeight == 1.0) user
      else user * (if (label == 1.0) scalePosWeight else 1.0)
    // logloss with the standard 1e-15 clip
    protected def rowLoss(y: Double, f: Double): Double = {
      val p = 1.0 / (1.0 + StrictMath.exp(-f))
      val pc = math.min(math.max(p, 1e-15), 1.0 - 1e-15)
      -(y * StrictMath.log(pc) + (1.0 - y) * StrictMath.log(1.0 - pc))
    }
  }

  case object SquaredError extends PerRow("reg:squarederror", "rmse") {
    override def defaultBase(src: DataFrame): Double = 0.5
    protected def gradient(y: Double, fm: Double, g: Array[Double],
        h: Array[Double], i: Int): Unit = {
      g(i) = fm - y
      h(i) = 1.0
    }
    protected def rowLoss(y: Double, f: Double): Double = StrictMath.pow(y - f, 2.0)
    override def loss(partial: Array[Double]): Double =
      StrictMath.sqrt(partial(0) / partial(1))
  }

  /** Log-link objectives start from ln(mean label), the intercept MLE. */
  sealed abstract class LogLink(name: String, metricName: String)
      extends PerRow(name, metricName) {
    override def defaultBase(src: DataFrame): Double = {
      val mean = src.select(avg(col("label"))).head().getDouble(0)
      require(mean > 0.0, "log-link objectives need a positive label mean")
      math.log(mean)
    }
  }

  case object Gamma extends LogLink("reg:gamma", "gamma-deviance") {
    // gamma deviance, log link: g = 1 − y·e^{−f}, h = y·e^{−f}
    protected def gradient(y: Double, fm: Double, g: Array[Double],
        h: Array[Double], i: Int): Unit = {
      val ymu = y * StrictMath.exp(-fm)
      g(i) = 1.0 - ymu
      h(i) = math.max(ymu, 1e-16)
    }
    // mean gamma deviance: 2·(−ln(y/μ) + (y−μ)/μ), μ = e^f
    protected def rowLoss(y: Double, f: Double): Double = {
      val mu = StrictMath.exp(f)
      2.0 * (-StrictMath.log(y / mu) + (y - mu) / mu)
    }
  }

  final case class Tweedie(rho: Double)
      extends LogLink("reg:tweedie", "tweedie-nloglik") {
    require(rho > 1.0 && rho < 2.0,
      s"tweedie variance power must be in (1, 2), got $rho")
    // XGBoost tweedie gradients, log link, variance power ρ
    protected def gradient(y: Double, fm: Double, g: Array[Double],
        h: Array[Double], i: Int): Unit = {
      val a = y * StrictMath.exp((1.0 - rho) * fm)
      val b = StrictMath.exp((2.0 - rho) * fm)
      g(i) = b - a
      h(i) = math.max((2.0 - rho) * b - (1.0 - rho) * a, 1e-16)
    }
    // tweedie negative log-likelihood kernel (XGBoost's
    // tweedie-nloglik@ρ): −y·e^{(1−ρ)f}/(1−ρ) + e^{(2−ρ)f}/(2−ρ)
    protected def rowLoss(y: Double, f: Double): Double =
      -y * StrictMath.exp((1.0 - rho) * f) / (1.0 - rho) +
        StrictMath.exp((2.0 - rho) * f) / (2.0 - rho)
  }

  case object Poisson extends LogLink("count:poisson", "poisson-deviance") {
    // Poisson deviance, log link: g = μ − y, h = μ
    protected def gradient(y: Double, fm: Double, g: Array[Double],
        h: Array[Double], i: Int): Unit = {
      val mu = StrictMath.exp(fm)
      g(i) = mu - y
      h(i) = math.max(mu, 1e-16)
    }
    // mean Poisson deviance 2·(y·ln(y/μ) − (y−μ)), μ = e^f, the y·ln
    // term 0 at y = 0
    protected def rowLoss(y: Double, f: Double): Double =
      2.0 * ((if (y > 0.0) y * StrictMath.log(y / StrictMath.exp(f)) else 0.0) -
        (y - StrictMath.exp(f)))
  }

  /** Pinball loss at α; the split search sees its (g, h), the leaf
    * values come from the α-quantile leaf rule ([[leafQuantile]]).
    */
  sealed class Quantile(val alpha: Double, name: String = "reg:quantileerror",
      metricName: String = "pinball") extends PerRow(name, metricName) {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    /** The exact α-quantile of the labels: the constant that
      * minimizes the pinball loss.
      */
    override def defaultBase(src: DataFrame): Double = {
      val labels = src.select(col("label")).rdd.mapPartitions(rows =>
        Iterator.single((0, rows.map(_.getDouble(0)).toArray)))
      SparseBoost.percentilesByKey(labels, 1, Array(alpha)).apply(0)(0)
    }
    // g = 1{y ≤ f} − α, h = 1
    protected def gradient(y: Double, fm: Double, g: Array[Double],
        h: Array[Double], i: Int): Unit = {
      g(i) = if (y <= fm) 1.0 - alpha else -alpha
      h(i) = 1.0
    }
    override def leafQuantile: Option[Double] = Some(alpha)
    // mean pinball (check) loss at α
    protected def rowLoss(y: Double, f: Double): Double =
      math.max((y - f) * alpha, (y - f) * (alpha - 1.0))
  }

  /** `reg:absoluteerror`, XGBoost's L1 objective: the median (α = 0.5)
    * leaf rule, with mean absolute error as its metric.
    */
  case object AbsoluteError extends Quantile(0.5, "reg:absoluteerror", "mae") {
    // XGBoost's L1 gradient: g = sign(f − y), h = 1
    override protected def gradient(y: Double, fm: Double, g: Array[Double],
        h: Array[Double], i: Int): Unit = {
      g(i) = math.signum(fm - y)
      h(i) = 1.0
    }
    override protected def rowLoss(y: Double, f: Double): Double = math.abs(y - f)
  }

  /** `multi:softprob` (reference `core.py:580-590`): one forest whose
    * round fits K trees on the multinomial softmax gradients of the
    * row's K margins, g = p_k − y_k, h = max(p_k(1−p_k), 1e-6) —
    * XGBoost's softmax objective; the hessian floor guards saturated
    * rows. p is the max-shifted softmax, its sum taken left to right;
    * one p per row serves the round's mlogloss and the next round's
    * gradients.
    */
  final case class Softprob(numClasses: Int)
      extends Objective("multi:softprob", "mlogloss") {
    require(numClasses >= 2, s"numClasses must be >= 2, got $numClasses")
    override def channels: Int = numClasses
    def evaluate(b: Block, f: Array[Double], s: Array[Double],
        g: Array[Double], h: Array[Double]): (Array[Double], Array[Int]) = {
      val k = numClasses
      val p = new Array[Double](k)
      var sum = 0.0
      var n = 0
      var i = 0
      while (i < b.n) {
        val o = i * k
        val y = b.label(i)
        val l = softmaxLoss(f, o, k, y, p)
        if (trains(b, i)) { sum += l; n += 1 }
        if (g != null) {
          var c = 0
          while (c < k) {
            val yc = if (y == c.toDouble) 1.0 else 0.0
            g(o + c) = p(c) - yc
            h(o + c) = math.max(p(c) * (1.0 - p(c)), 1e-6)
            if (b.weight != null) {
              g(o + c) = g(o + c) * b.weight(i)
              h(o + c) = h(o + c) * b.weight(i)
            }
            c += 1
          }
        }
        i += 1
      }
      (Array(sum, n.toDouble), null)
    }
  }

  /** One-vs-rest multiclass (`multiclassStrategy = "ovr"`): K
    * independent `binary:logistic` channels, channel k on the label
    * indicator y = k (g = p_k − y_k, h = p_k(1 − p_k) with
    * p_k = σ(f_k)), grown together in one pass per level. Its history
    * and probabilities are the softmax of the K margins, as for
    * softprob; [[GraftBoost.calibrate]] Platt-scales them.
    */
  final case class Ovr(numClasses: Int)
      extends Objective("binary:logistic", "mlogloss") {
    require(numClasses >= 2, s"numClasses must be >= 2, got $numClasses")
    override def channels: Int = numClasses
    def evaluate(b: Block, f: Array[Double], s: Array[Double],
        g: Array[Double], h: Array[Double]): (Array[Double], Array[Int]) = {
      val k = numClasses
      val p = new Array[Double](k)
      var sum = 0.0
      var n = 0
      var i = 0
      while (i < b.n) {
        val o = i * k
        val y = b.label(i)
        if (trains(b, i)) { sum += softmaxLoss(f, o, k, y, p); n += 1 }
        if (g != null) {
          var c = 0
          while (c < k) {
            val q = 1.0 / (1.0 + StrictMath.exp(-f(o + c)))
            g(o + c) = q - (if (y == c.toDouble) 1.0 else 0.0)
            h(o + c) = math.max(q * (1.0 - q), 1e-16)
            if (b.weight != null) {
              g(o + c) = g(o + c) * b.weight(i)
              h(o + c) = h(o + c) * b.weight(i)
            }
            c += 1
          }
        }
        i += 1
      }
      (Array(sum, n.toDouble), null)
    }
  }

  /** `rank:pairwise` (RankNet pairs) and `rank:ndcg` (LambdaMART,
    * pairs weighted by |ΔNDCG|), reachable in the reference through
    * its params passthrough (`core.py:164-321`; groups ride the
    * DMatrix). The training frame carries `label` as graded relevance
    * (larger = better) and `group`, the long query/group id. The rows
    * are hash-partitioned and sorted by group id ONCE at entry; every
    * block then holds whole groups as contiguous runs, which serve the
    * pair walk ([[RankBoost.groupGradients]]) and the NDCG windows
    * ([[RankBoost.ndcgPartial]]) of every round. The fit is a
    * [[SparseBoost.SparseModel]] whose margins are ranking scores; its
    * history is the train mean NDCG@10.
    */
  final case class Rank(ndcgWeighted: Boolean)
      extends Objective(if (ndcgWeighted) "rank:ndcg" else "rank:pairwise",
        "ndcg@10") {
    override def inputs: Seq[Column] = Seq(col("group").cast("long").as("group"))
    override def layout(src: DataFrame): DataFrame =
      src.repartition(math.max(1, src.rdd.getNumPartitions), col("group"))
        .sortWithinPartitions(col("group"))
    def evaluate(b: Block, f: Array[Double], s: Array[Double],
        g: Array[Double], h: Array[Double]): (Array[Double], Array[Int]) = {
      val runs = RankBoost.groupRuns(b.group)
      val order =
        if (g == null) null
        else RankBoost.groupGradients(runs, b.raw, b.label, f, ndcgWeighted, g, h)
      (RankBoost.ndcgPartial(runs, b.group, b.label, f, 10), order)
    }
  }

  /** `numClasses` is the class count of a multiclass fit. */
  def apply(params: GraftBoost.BoostParams, numClasses: Int = 0): Objective =
    params.objective match {
      case "binary:logistic" => Logistic(params.scalePosWeight)
      case "reg:squarederror" => SquaredError
      case "reg:gamma" => Gamma
      case "reg:tweedie" => Tweedie(params.tweedieVariancePower)
      case "count:poisson" => Poisson
      case "reg:quantileerror" => new Quantile(params.quantileAlpha)
      case "reg:absoluteerror" => AbsoluteError
      case "multi:softprob" | "multi:softmax" =>
        if (params.multiclassStrategy == "softprob") Softprob(numClasses)
        else Ovr(numClasses)
      case "rank:pairwise" => Rank(ndcgWeighted = false)
      case "rank:ndcg" => Rank(ndcgWeighted = true)
      case other => throw new IllegalArgumentException(
        "the boosting round loop supports binary:logistic, " +
        "reg:squarederror, reg:absoluteerror, reg:gamma, reg:tweedie, " +
        "count:poisson, reg:quantileerror, multi:softprob, rank:pairwise " +
        "and rank:ndcg, " +
        s"got $other")
    }
}
