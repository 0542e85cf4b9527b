package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import GraftBoost._

/** Companion utilities for the estimator surface. */
object Estimators {

  /** Positional eval sets packaged into the named form `fit` takes:
    * `validation_0 .. validation_{n-1}`, exactly the reference's
    * naming (`core.py:147`).
    */
  case class PackagedEvals(
      sets: Map[String, DataFrame], weights: Map[String, String])

  /** Reference `_package_evals` parity (`core.py:138-151`): pair
    * positionally-given eval frames with optional per-set weight
    * columns. `None` for `sampleWeightEvalSet` means every set is
    * unweighted (the reference's `[None] * len(eval_set)` branch).
    *
    * DELIBERATE DIVERGENCE, pinned by MLSpec: when
    * `sample_weight_eval_set` is SHORTER than `eval_set`, the
    * reference's Python `zip` silently truncates — two eval sets plus
    * a one-element weight list yields ONE packaged set
    * (`tests/test_core.py:149-170` pins `len == 1`), dropping a
    * validation set the caller explicitly passed. Silently discarding
    * requested evaluation is the wrong contract for an engine, so a
    * length mismatch fails loudly here instead, naming the quirk.
    */
  def packageEvals(
      evalSet: Seq[DataFrame],
      sampleWeightEvalSet: Option[Seq[Option[String]]] = None
  ): PackagedEvals = {
    val weights = sampleWeightEvalSet.getOrElse(Seq.fill(evalSet.length)(None))
    require(weights.length == evalSet.length,
      s"sample_weight_eval_set has ${weights.length} entries for " +
      s"${evalSet.length} eval sets. The reference zip-truncates to the " +
      "shorter list (core.py:144-146), silently dropping eval sets; pass " +
      "exactly one weight column (or None) per eval set instead.")
    val named = evalSet.zipWithIndex.map { case (df, i) => s"validation_$i" -> df }
    val w = named.zip(weights).collect { case ((n, _), Some(c)) => n -> c }
    PackagedEvals(named.toMap, w.toMap)
  }
}

/** Sklearn-style estimator surface — the Spark-native restatement of
  * the reference's `XGBRegressor`/`XGBClassifier` wrappers
  * (`core.py:387-631`). Mutable-builder style mirrors sklearn's
  * set-params-then-fit; `fit` returns `this` like the reference.
  */
sealed abstract class GraftEstimator[Self <: GraftEstimator[Self]] { self: Self =>
  protected var nEstimators: Int = 100
  protected var maxDepth: Int = 3
  protected var learningRate: Double = 0.1
  protected var subsample: Double = 1.0
  protected var missingValue: Option[Double] = None
  protected var missingStrat: String = "impute"
  protected var maxBins: Int = 32
  protected var seed: Long = 42L

  var model: Option[GraftBoostModel] = None
  /** Per-eval-set training history (`evals_result`, `core.py:259-260`). */
  var evalsResult: Map[String, Map[String, Array[Double]]] = Map.empty
  /** Best round (1-based) from the last arbitrary-metric early-stopped
    * fit (`best_iteration` copy, `core.py:476-479`). */
  var bestIteration: Option[Int] = None
  /** Metric value at [[bestIteration]] (`best_score`). */
  var bestScore: Option[Double] = None
  /** Boosting rounds the last early-stopped fit trained before its
    * metric stalled — the cost early stopping saved versus
    * nEstimators. */
  var roundsTrained: Option[Int] = None

  protected def recordEarlyStop(
      fitted: (GraftBoostModel, Int, Array[Double], Int),
      metric: String): GraftBoostModel = {
    val (m, k, hist, trained) = fitted
    model = Some(m)
    bestIteration = Some(k)
    bestScore = Some(hist(k - 1))
    roundsTrained = Some(trained)
    evalsResult = Map("validation_0" -> Map(metric -> hist))
    m
  }

  def setNEstimators(n: Int): Self = { nEstimators = n; this }
  def setMaxDepth(d: Int): Self = { maxDepth = d; this }
  def setLearningRate(lr: Double): Self = { learningRate = lr; this }
  def setSubsample(s: Double): Self = { subsample = s; this }
  def setMissing(m: Double): Self = { missingValue = Some(m); this }
  /** "impute" (default) or "sentinel" — see [[GraftBoost.BoostParams.missingStrategy]]. */
  def setMissingStrategy(s: String): Self = {
    GraftBoost.validateMissingStrategy(s)
    missingStrat = s; this
  }
  def setSeed(s: Long): Self = { seed = s; this }
  /** Histogram bins per feature (see BoostParams.maxBins). */
  def setMaxBins(b: Int): Self = { maxBins = b; this }
  /** Per-row `base_margin` column (reference `dmatrix_kwargs`,
    * `core.py:143-147`): fit starts each row's boosting recursion from
    * this margin instead of the scalar base, and predict scores from
    * it — stock semantics (base_score unused when supplied). Per-row
    * objectives only (not multiclass).
    */
  def setBaseMarginCol(c: String): Self = { baseMarginCol = Some(c); this }
  protected var baseMarginCol: Option[String] = None

  protected def fitted: GraftBoostModel =
    model.getOrElse(throw new IllegalStateException("call fit() first"))

  /** `feature_importances_` parity (reference `test_core.py:57`):
    * per-feature importance weights keyed by feature column name.
    */
  def featureImportances: Map[String, Double] =
    GraftBoost.featureImportances(fitted)

  /** `save_model("model.json")` parity (reference model sink,
    * `core.py:126-131`, via the sklearn wrapper surface): writes the
    * fitted model as the PUBLIC XGBoost JSON document ([[XgbJson]])
    * to a driver-local path, exactly like stock XGBoost's
    * `Booster.save_model`. Use [[ModelIO]] for the lossless
    * engine-native artifact (eval history, imputation stats,
    * calibration have no schema slot).
    */
  def saveModel(path: String): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path),
      XgbJson.export(fitted).getBytes("UTF-8"))

  /** `load_model("model.json")` parity: ingest an XGBoost JSON
    * document (stock or own export) into this estimator. Matching
    * stock XGBoost, training-time state (`evals_result`,
    * best_iteration) is NOT restored — the document doesn't carry it.
    */
  def loadModel(path: String): Self = {
    model = Some(XgbJson.importModel(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      "UTF-8")))
    evalsResult = Map.empty
    bestIteration = None
    bestScore = None
    roundsTrained = None
    this
  }
}

/** `XGBRegressor` parity (`core.py:387-484`). */
final class GraftXGBRegressor extends GraftEstimator[GraftXGBRegressor] {

  /** Mirror of the classifier-side wrapper guard: a classification
    * document loaded through the regressor wrapper would score through
    * the binary-threshold or multiclass-argmax arm and emit class ids
    * where stock XGBoost's regressor surface returns continuous
    * margins — a silent semantic divergence. Refuse loudly and point
    * at the right wrapper.
    */
  override def loadModel(path: String): GraftXGBRegressor = {
    super.loadModel(path)
    // clear BEFORE throwing: a caller catching the refusal must not
    // be left holding exactly the misloaded model the guard exists
    // to prevent
    val bad = model.filter(m =>
      m.objective == "binary:logistic" || m.objective.startsWith("multi:"))
    bad.foreach { m =>
      model = None
      throw new IllegalArgumentException(
        s"document objective '${m.objective}' is a classification " +
        "objective — load it with GraftXGBClassifier")
    }
    this
  }

  /** Distributed fit (`core.py:388-480`). `evalSets` reproduces the
    * reference's eval_set history; unlike the reference — which
    * forbids lazy collections in eval sets (`core.py:154-161`) —
    * DataFrames are naturally fine here, so that restriction
    * disappears (SURVEY §2.2 `_has_dask_collections`). `evalWeights`
    * maps an eval-set name to its weight column
    * (`sample_weight_eval_set`, `core.py:138-151`; package positional
    * sets with [[Estimators.packageEvals]]) — weighted sets get a
    * staged weighted-rmse history, unweighted ones the per-round mean
    * squared error (`squarederror`), both from one staged pass
    * ([[StagedEval.history]]). `earlyStoppingValidation` rows ride the
    * fit and stop it once their rmse has not improved for a round.
    */
  def fit(
      df: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      weightCol: Option[String] = None,
      evalSets: Map[String, DataFrame] = Map.empty,
      earlyStoppingValidation: Option[DataFrame] = None,
      evalWeights: Map[String, String] = Map.empty
  ): GraftXGBRegressor = {
    val params = BoostParams("reg:squarederror", nEstimators, maxDepth,
      learningRate, 1, subsample, missingValue, seed = seed,
      missingStrategy = missingStrat, maxBins = maxBins)
    val (data, valCol) = earlyStoppingValidation match {
      case Some(v) =>
        (df.withColumn("isVal", lit(false))
           .unionByName(v.withColumn("isVal", lit(true))), Some("isVal"))
      case None => (df, None)
    }
    require(baseMarginCol.isEmpty || evalSets.isEmpty,
      "eval-set histories score without per-row margins, so a " +
      "base_margin fit with eval_set would silently mix margin-trained " +
      "trees with margin-less metrics — drop one of the two")
    model = Some(GraftBoost.train(data, featureCols, labelCol, params,
      weightCol, valCol, marginCol = baseMarginCol))
    if (evalSets.nonEmpty)
      evalsResult = evalSets.map { case (n, d) =>
        val w = evalWeights.get(n)
        val rmse = StagedEval.history(fitted, d, labelCol, "rmse", w)
        n -> (if (w.isDefined) Map("rmse" -> rmse)
          else Map("squarederror" -> rmse.map(r => r * r)))
      }
    this
  }

  /** Lazy distributed predict (`core.py:482-484`). A set
    * [[setBaseMarginCol]] carries through to scoring, stock-style.
    */
  def predict(df: DataFrame): DataFrame =
    GraftBoost.predict(fitted, df, baseMarginCol)

  /** Arbitrary-metric in-fit early stopping (`early_stopping_rounds` +
    * `eval_metric`, `core.py:435-449`): one fit via
    * [[StagedEval.fitWithEarlyStopping]] that stops once `metric` (rmse
    * here) stalls for `earlyStoppingRounds` rounds on `validation`,
    * and keeps the model truncated at its best round. Sets
    * [[bestIteration]]/[[bestScore]]/[[roundsTrained]]/[[evalsResult]].
    */
  def fitWithEarlyStopping(
      df: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      validation: DataFrame,
      earlyStoppingRounds: Int,
      metric: String = "rmse",
      weightCol: Option[String] = None
  ): GraftXGBRegressor = {
    require(baseMarginCol.isEmpty,
      "fitWithEarlyStopping has no per-row base_margin path (the " +
      "staged metric would score without the margins the trees were " +
      "fit from) — unset the base margin column or use fit()")
    val params = BoostParams("reg:squarederror", nEstimators, maxDepth,
      learningRate, 1, subsample, missingValue, seed = seed,
      missingStrategy = missingStrat, maxBins = maxBins)
    recordEarlyStop(StagedEval.fitWithEarlyStopping(df, validation,
      featureCols, labelCol, params, metric, earlyStoppingRounds, weightCol), metric)
    this
  }
}

/** `XGBClassifier` parity (`core.py:487-631`). */
final class GraftXGBClassifier extends GraftEstimator[GraftXGBClassifier] {
  private var objective: String = "binary:logistic"
  private var multiclassStrategy: String = "ovr"

  var classes: Option[Array[Double]] = None
  def numClasses: Int = classes.map(_.length).getOrElse(0)

  def setObjective(o: String): GraftXGBClassifier = { objective = o; this }
  def setMulticlassStrategy(s: String): GraftXGBClassifier = { multiclassStrategy = s; this }

  /** sklearn-wrapper parity on `load_model`: `classes_` comes back as
    * 0..K−1 from the document's class count (stock XGBoost restores
    * n_classes the same way — original label values have no schema
    * slot), and the objective follows the document.
    */
  override def loadModel(path: String): GraftXGBClassifier = {
    super.loadModel(path)
    // a regression document in the classifier wrapper would silently
    // emit truncated continuous predictions as "classes" — refuse
    // loudly and point at the right wrapper, clearing the misloaded
    // model first so a caught refusal leaves nothing scoreable behind
    val bad = model.filter(m =>
      m.objective != "binary:logistic" && !m.objective.startsWith("multi:"))
    bad.foreach { m =>
      model = None
      throw new IllegalArgumentException(
        s"document objective '${m.objective}' is not a classification " +
        "objective — load it with GraftXGBRegressor")
    }
    classes = model.filter(_.numClasses > 0)
      .map(m => Array.tabulate(m.numClasses)(_.toDouble))
    model.foreach(m => objective = m.objective)
    this
  }

  /** Distributed fit with class inference + objective rewrite.
    * Class inference is the reference's eager distributed distinct
    * (`core.py:561-570`); with >2 classes the default binary
    * objective rewrites to `multi:softprob` (`core.py:580-590`).
    */
  def fit(
      df: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      weightCol: Option[String] = None,
      evalSets: Map[String, DataFrame] = Map.empty,
      earlyStoppingValidation: Option[DataFrame] = None,
      evalWeights: Map[String, String] = Map.empty
  ): GraftXGBClassifier = {
    val inferred = df.select(col(labelCol).cast("double"))
      .distinct().collect().map(_.getDouble(0)).sorted
    classes = Some(inferred)
    val effective =
      if (inferred.length > 2 && objective == "binary:logistic") "multi:softprob"
      else objective
    objective = effective

    val params = BoostParams(effective, nEstimators, maxDepth, learningRate,
      1, subsample, missingValue, multiclassStrategy, seed,
      missingStrategy = missingStrat, maxBins = maxBins)
    val (data, valCol) = earlyStoppingValidation match {
      case Some(v) =>
        (df.withColumn("isVal", lit(false))
           .unionByName(v.withColumn("isVal", lit(true))), Some("isVal"))
      case None => (df, None)
    }
    require(baseMarginCol.isEmpty || evalSets.isEmpty,
      "eval-set histories score without per-row margins, so a " +
      "base_margin fit with eval_set would silently mix margin-trained " +
      "trees with margin-less metrics — drop one of the two")
    model = Some(GraftBoost.train(data, featureCols, labelCol, params,
      weightCol, valCol, marginCol = baseMarginCol))
    if (evalSets.nonEmpty) {
      // one staged pass per eval set (reference evals_result,
      // `core.py:120, 580-590`; weighted sets are the reference's
      // `sample_weight_eval_set`). RandomForest has no per-round
      // structure — fail loudly rather than silently dropping the
      // caller's eval sets
      require(multiclassStrategy != "rf" || effective == "binary:logistic",
        "eval-set history needs per-round models (multiclassStrategy=ovr " +
        "or softprob); RandomForest multiclass has no boosting rounds")
      evalsResult = evalSets.map { case (n, d) =>
        val w = evalWeights.get(n)
        n -> (fitted.model match {
          case _: MultiSparse.MultiSparseModel =>
            StagedEval.multiclassHistory(fitted, d, labelCol, w)
          case _ => Map("logloss" -> StagedEval.history(fitted, d, labelCol, "logloss", w))
        })
      }
    }
    this
  }

  /** Class prediction (`core.py:617-624`): the argmax/threshold the
    * reference computes over its probability matrix is the model's
    * `prediction` column.
    */
  def predict(df: DataFrame): DataFrame =
    GraftBoost.predict(fitted, df, baseMarginCol)
      .withColumn("prediction", col("prediction").cast("long"))

  /** `predict_proba` (`core.py:626-631`). The reference raises
    * `NotImplementedError` for `ntree_limit`; mirrored here as a loud
    * reject with a pointer at the SUPPORTED way to score with fewer
    * trees — [[StagedEval.truncateToBest]] physically truncates the
    * model, which exceeds the reference's capability.
    */
  def predictProba(df: DataFrame, ntreeLimit: Option[Int] = None): DataFrame = {
    require(ntreeLimit.isEmpty,
      "'ntree_limit' is not supported (reference parity, core.py:626-631); " +
      "truncate the model physically with StagedEval.truncateToBest instead")
    GraftBoost.predictProba(fitted, df, baseMarginCol)
  }

  /** Arbitrary-metric in-fit early stopping — the reference's
    * `fit(..., early_stopping_rounds=…, eval_metric="auc")`
    * (`test_core.py:104-146`): one fit that stops once `metric`
    * (auc/logloss/…) stalls for `earlyStoppingRounds` on `validation`,
    * keeping the model truncated at its best round. Binary objective
    * only: multiclass fits stop on their own mlogloss through
    * `fit(earlyStoppingValidation = …)`. Sets
    * [[bestIteration]]/[[bestScore]]/[[roundsTrained]]/[[evalsResult]].
    */
  def fitWithEarlyStopping(
      df: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      validation: DataFrame,
      earlyStoppingRounds: Int,
      metric: String = "auc",
      weightCol: Option[String] = None
  ): GraftXGBClassifier = {
    require(baseMarginCol.isEmpty,
      "fitWithEarlyStopping has no per-row base_margin path (the " +
      "staged metric would score without the margins the trees were " +
      "fit from) — unset the base margin column or use fit()")
    val inferred = df.select(col(labelCol).cast("double"))
      .distinct().collect().map(_.getDouble(0)).sorted
    classes = Some(inferred)
    require(inferred.length <= 2,
      "arbitrary-metric early stopping is binary-only (a multiclass fit " +
      "stops on its mlogloss through fit(earlyStoppingValidation = ...))")
    val params = BoostParams("binary:logistic", nEstimators, maxDepth,
      learningRate, 1, subsample, missingValue, multiclassStrategy, seed,
      missingStrategy = missingStrat, maxBins = maxBins)
    recordEarlyStop(StagedEval.fitWithEarlyStopping(df, validation,
      featureCols, labelCol, params, metric, earlyStoppingRounds, weightCol), metric)
    this
  }

  /** Platt-scale the multiclass probability surface on a calibration frame
    * (ideally held out) — after this, predictProba emits calibrated
    * probabilities instead of softmax-of-margins.
    */
  def calibrateProba(df: DataFrame, labelCol: String): GraftXGBClassifier = {
    model = Some(GraftBoost.calibrate(fitted, df, labelCol))
    this
  }

  /** Fit-then-calibrate with a deterministic held-out calibration
    * split — the misuse-proof convenience: Platt-scaling on the SAME
    * rows the trees were fit to sees overconfident margins (the trees
    * have partially memorized them) and learns too-sharp sigmoids
    * that overstate confidence on fresh data. This fits on
    * (1 − calFraction) of `df` and calibrates on the held-out rest
    * (split via [[GraftBoost.calibrationSplit]]).
    */
  def fitCalibrated(
      df: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      calFraction: Double = 0.2
  ): GraftXGBClassifier = {
    val (train, cal) = GraftBoost.calibrationSplit(df, calFraction, seed)
    fit(train, featureCols, labelCol)
    calibrateProba(cal, labelCol)
  }
}
