package graft.ml

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One boosting objective of the round loop ([[SparseBoost.train]]).
  * The reference forwards its params dict to `xgb.train`
  * (`core.py:164-321`), where the objective only supplies gradients;
  * here too, one value per objective string carries what differs and
  * the loop, the tree grower and the margin bookkeeping are shared:
  *
  *  - [[channels]]: margin channels per row K — 1, or the class count
  *    under `multi:softprob` (the margin column `f` is then an array
  *    of K doubles and a round grows K trees),
  *  - [[defaultBase]]: the start margin when `base_score` is unset,
  *  - the gradients: per-row (g, h) Columns per channel
  *    ([[gradients]]) over the round's frame ([[roundFrame]]) — for
  *    ranking that frame is the pair-gradient walk over the groups of
  *    a frame partitioned by group once at entry ([[initMargins]]),
  *  - the leaf rule: the grower's Newton leaves, or the α-quantile
  *    reset of `reg:quantileerror` ([[leafRule]]),
  *  - the train-history loss ([[loss]]) and its metric name.
  */
sealed abstract class Objective(val name: String, val metricName: String)
    extends Serializable {
  def channels: Int = 1
  /** Start margin when `base_score` is unset. */
  def defaultBase(src: DataFrame): Double = 0.0
  /** Input columns read beyond features, label and weight. */
  def inputs: Seq[Column] = Nil
  /** The margin frame at entry (`start` is `f`); every round keeps its layout. */
  def initMargins(src: DataFrame, start: Column): DataFrame =
    src.withColumn("f", start)
  /** What a round's loss and the next round's gradients read the
    * margins through; a cached frame is released by the loop.
    */
  def scored(margins: DataFrame): DataFrame = margins
  /** Round `r`'s grower input before sampling: the scored frame plus
    * the DART dropped share `s`.
    */
  def roundFrame(withS: DataFrame, r: Int): DataFrame = withS
  /** Channel `k`'s (g, h) over [[roundFrame]]; `fm` = f − s. */
  def gradients(k: Int, fm: Column): (Column, Column)
  def instanceWeight(user: Option[Column]): Option[Column] = user
  /** DART drops trees from one per-row margin. */
  def supportsDart: Boolean = false
  /** Newton leaves stay as grown unless the objective resets them. */
  def leafRule(tree: SparseBoost.SparseTree, sampled: DataFrame, fm: Column,
      eta: Double, r: Int): Unit = ()
  def loss(scored: DataFrame): Double
}

object Objective {

  /** (g, h) and loss are per-row functions of one margin and the label. */
  sealed abstract class PerRow(name: String, metricName: String)
      extends Objective(name, metricName) {
    protected def lossAgg: Column
    override def supportsDart: Boolean = true
    def loss(scored: DataFrame): Double =
      scored.select(lossAgg).head().getDouble(0)
  }

  /** XGBoost base_score = 0.5, margin 0 for logistic. */
  final case class Logistic(scalePosWeight: Double)
      extends PerRow("binary:logistic", "logloss") {
    def gradients(k: Int, fm: Column): (Column, Column) = {
      val p = lit(1.0) / (lit(1.0) + exp(-fm))
      (p - col("label"), greatest(p * (lit(1.0) - p), lit(1e-16)))
    }
    /** user weight × scale_pos_weight on positives */
    override def instanceWeight(user: Option[Column]): Option[Column] =
      if (scalePosWeight == 1.0) user
      else {
        val spw = when(col("label") === 1.0, lit(scalePosWeight)).otherwise(lit(1.0))
        Some(user.fold(spw)(_ * spw))
      }
    // logloss with the standard 1e-15 clip
    protected def lossAgg: Column = {
      val p = lit(1.0) / (lit(1.0) + exp(-col("f")))
      val pc = least(greatest(p, lit(1e-15)), lit(1.0 - 1e-15))
      avg(-(col("label") * log(pc) +
        (lit(1.0) - col("label")) * log(lit(1.0) - pc)))
    }
  }

  case object SquaredError extends PerRow("reg:squarederror", "rmse") {
    override def defaultBase(src: DataFrame): Double = 0.5
    def gradients(k: Int, fm: Column): (Column, Column) =
      (fm - col("label"), lit(1.0))
    protected def lossAgg: Column =
      sqrt(avg(pow(col("label") - col("f"), 2)))
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
    def gradients(k: Int, fm: Column): (Column, Column) = {
      val ymu = col("label") * exp(-fm)
      (lit(1.0) - ymu, greatest(ymu, lit(1e-16)))
    }
    // mean gamma deviance: 2·(−ln(y/μ) + (y−μ)/μ), μ = e^f
    protected def lossAgg: Column = {
      val mu = exp(col("f"))
      avg(lit(2.0) * (-log(col("label") / mu) + (col("label") - mu) / mu))
    }
  }

  final case class Tweedie(rho: Double)
      extends LogLink("reg:tweedie", "tweedie-nloglik") {
    require(rho > 1.0 && rho < 2.0,
      s"tweedie variance power must be in (1, 2), got $rho")
    // XGBoost tweedie gradients, log link, variance power ρ
    def gradients(k: Int, fm: Column): (Column, Column) = {
      val a = col("label") * exp(lit(1.0 - rho) * fm)
      val b = exp(lit(2.0 - rho) * fm)
      (b - a, greatest(lit(2.0 - rho) * b - lit(1.0 - rho) * a, lit(1e-16)))
    }
    // tweedie negative log-likelihood kernel (XGBoost's
    // tweedie-nloglik@ρ): −y·e^{(1−ρ)f}/(1−ρ) + e^{(2−ρ)f}/(2−ρ)
    protected def lossAgg: Column =
      avg(-col("label") * exp(lit(1.0 - rho) * col("f")) / (1.0 - rho) +
        exp(lit(2.0 - rho) * col("f")) / (2.0 - rho))
  }

  case object Poisson extends LogLink("count:poisson", "poisson-deviance") {
    // Poisson deviance, log link: g = μ − y, h = μ
    def gradients(k: Int, fm: Column): (Column, Column) = {
      val mu = exp(fm)
      (mu - col("label"), greatest(mu, lit(1e-16)))
    }
    // mean Poisson deviance 2·(y·ln(y/μ) − (y−μ)), μ = e^f, the y·ln
    // term 0 at y = 0
    protected def lossAgg: Column =
      avg(lit(2.0) * (
        when(col("label") > 0.0,
          col("label") * log(col("label") / exp(col("f")))).otherwise(lit(0.0))
          - (col("label") - exp(col("f")))))
  }

  /** Pinball loss at α; the split search sees its (g, h), the leaf
    * values come from [[SparseBoost.quantileLeaves]].
    */
  final case class Quantile(alpha: Double)
      extends PerRow("reg:quantileerror", "pinball") {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    /** The exact α-quantile of the labels: the constant that
      * minimizes the pinball loss.
      */
    override def defaultBase(src: DataFrame): Double =
      src.select(percentile(col("label"), lit(alpha))).head().getDouble(0)
    // g = 1{y ≤ f} − α, h = 1
    def gradients(k: Int, fm: Column): (Column, Column) =
      (when(col("label") <= fm, lit(1.0 - alpha)).otherwise(lit(-alpha)),
        lit(1.0))
    override def leafRule(tree: SparseBoost.SparseTree, sampled: DataFrame,
        fm: Column, eta: Double, r: Int): Unit = {
      sampled.sparkSession.sparkContext
        .setJobDescription(s"boost: r$r leaf-quantile")
      SparseBoost.quantileLeaves(tree, sampled, col("label") - fm, alpha, eta)
    }
    // mean pinball (check) loss at α
    protected def lossAgg: Column =
      avg(greatest((col("label") - col("f")) * alpha,
        (col("label") - col("f")) * (alpha - 1.0)))
  }

  /** `multi:softprob` (reference `core.py:580-590`): one forest whose
    * round fits K trees on the multinomial softmax gradients of the
    * shared margin array, g = p_k − y_k, h = max(p_k(1−p_k), 1e-6) —
    * XGBoost's softmax objective; the hessian floor guards saturated
    * rows. The softmax frame is computed once per round and cached: it
    * serves that round's mlogloss and the next round's gradients.
    */
  final case class Softprob(numClasses: Int)
      extends Objective("multi:softprob", "mlogloss") {
    require(numClasses >= 2, s"numClasses must be >= 2, got $numClasses")
    override def channels: Int = numClasses

    // softmax(f) as columns: max-shifted exp, normalized. The exp array
    // and its sum are materialized in their own projections before the
    // normalizing lambda references them (materialize-before-HOF rule —
    // inlining re-evaluates them per element).
    override def scored(margins: DataFrame): DataFrame = {
      val mx = array_max(col("f"))
      margins.withColumn("ex", transform(col("f"), x => exp(x - mx)))
        .withColumn("exs", aggregate(col("ex"), lit(0.0), (a, y) => a + y))
        .withColumn("p", transform(col("ex"), x => x / col("exs")))
        .drop("ex", "exs")
        .cache()
    }
    def gradients(k: Int, fm: Column): (Column, Column) = {
      val pk = element_at(col("p"), k + 1)
      val yk = when(col("label") === k.toDouble, lit(1.0)).otherwise(lit(0.0))
      (pk - yk, greatest(pk * (lit(1.0) - pk), lit(1e-6)))
    }
    def loss(scored: DataFrame): Double =
      scored.select(avg(-log(greatest(
          element_at(col("p"), col("label").cast("int") + 1), lit(1e-15)))))
        .head().getDouble(0)
  }

  /** `rank:pairwise` (RankNet pairs) and `rank:ndcg` (LambdaMART,
    * pairs weighted by |ΔNDCG|), reachable in the reference through
    * its params passthrough (`core.py:164-321`; groups ride the
    * DMatrix). The training frame carries `label` as graded relevance
    * (larger = better) and `group`, the long query/group id. The
    * margin frame is hash-partitioned and sorted by group id ONCE at
    * entry; that one shuffle serves every round's pair walk
    * ([[RankBoost.groupGradients]]), the narrow margin updates and the
    * NDCG windows. The fit is a [[SparseBoost.SparseModel]] whose
    * margins are ranking scores; its history is the train mean NDCG@10
    * ([[RankBoost.meanNdcg]]).
    */
  final case class Rank(ndcgWeighted: Boolean)
      extends Objective(if (ndcgWeighted) "rank:ndcg" else "rank:pairwise",
        "ndcg@10") {
    override def inputs: Seq[Column] = Seq(col("group").cast("long"))
    override def initMargins(src: DataFrame, start: Column): DataFrame =
      src.withColumn("f", start)
        .repartition(math.max(1, src.rdd.getNumPartitions), col("group"))
        .sortWithinPartitions(col("group"))
    override def roundFrame(withS: DataFrame, r: Int): DataFrame = {
      val spark = withS.sparkSession
      import spark.implicits._
      spark.sparkContext.setJobDescription(s"boost: r$r gradients")
      val weighted = ndcgWeighted
      withS.select(col("group"), col("features"), col("label"), col("f"))
        .as[(Long, Vector, Double, Double)]
        .mapPartitions(it => RankBoost.groupGradients(it, weighted))
        .toDF("features", "label", "g", "h")
        .localCheckpoint()
    }
    def gradients(k: Int, fm: Column): (Column, Column) = (col("g"), col("h"))
    def loss(scored: DataFrame): Double =
      RankBoost.meanNdcg(scored, "group", "label", "f", 10)
  }

  /** `numClasses` is the class count of a `multi:softprob` fit. */
  def apply(params: GraftBoost.BoostParams, numClasses: Int = 0): Objective =
    params.objective match {
      case "binary:logistic" => Logistic(params.scalePosWeight)
      case "reg:squarederror" => SquaredError
      case "reg:gamma" => Gamma
      case "reg:tweedie" => Tweedie(params.tweedieVariancePower)
      case "count:poisson" => Poisson
      case "reg:quantileerror" => Quantile(params.quantileAlpha)
      case "multi:softprob" | "multi:softmax" => Softprob(numClasses)
      case "rank:pairwise" => Rank(ndcgWeighted = false)
      case "rank:ndcg" => Rank(ndcgWeighted = true)
      case other => throw new IllegalArgumentException(
        "the boosting round loop supports binary:logistic, " +
        "reg:squarederror, reg:gamma, reg:tweedie, count:poisson, " +
        "reg:quantileerror, multi:softprob, rank:pairwise and rank:ndcg, " +
        s"got $other")
    }
}
