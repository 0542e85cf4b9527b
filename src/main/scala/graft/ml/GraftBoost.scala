package graft.ml

import org.apache.spark.GraftRddBridge
import org.apache.spark.ml.classification.{
  RandomForestClassificationModel, RandomForestClassifier
}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.Model
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

import graft.plans.ForestScore

/** Distributed gradient-boosted training/scoring — the Spark-native
  * restatement of the reference's `train`/`predict` dataflow
  * (reference `core.py:268-321` train facade, `core.py:324-382`
  * predict dispatch).
  *
  * The reference's entire distribution machinery — partition triads,
  * locality pinning, the Rabit allreduce tracker (`core.py:183-253`,
  * `tracker.py`) — is structurally subsumed here: one DataFrame
  * co-locates features/label/weight, Spark's scheduler places tasks
  * data-local, and the one boosting round loop ([[SparseBoost.train]])
  * folds its histogram partials in partition order instead of an
  * external allreduce ring. Every boosted objective fits there, early
  * stopping included; the linear booster ([[LinearBoost]]) and the
  * `rf` multiclass strategy (MLlib's random forest) are the other two
  * fits. `fit` is a sequence of distributed jobs; the model returns to
  * the driver like the reference's rank-0 booster (`core.py:126-131,
  * 255-257`).
  *
  * Scale posture: training data should be cached by the caller for
  * iterative boosting. A native forest scores in one codegen'd
  * projection ([[graft.plans.ForestScore]]) straight from the feature
  * columns, the model broadcast once (vs. the reference's per-task
  * closure serialization, `core.py:367`), and so does a linear model;
  * the random forest scores its assembled `features` vector.
  */
object GraftBoost {

  /** Minimum rows per task for the train-entry fan-out: below this a
    * histogram/stats pass's per-task compute (µs/row primitive loops)
    * drops under the task-launch overhead, and splitting wider makes
    * round loops SLOWER. ~20k rows ≈ 2-20 ms of kernel per task.
    *
    * Overridable via `-Dgraft.train.rowsPerTask` so the partition-
    * invariance sweep (GateInvarianceSpec) can force DIFFERENT
    * training layouts on the same data and assert every fitted-model
    * gate boolean is layout-independent — the round-8 flake class.
    */
  def TrainRowsPerTask: Long =
    graft.Knobs.long("graft.train.rowsPerTask", 20000L)

  /** Training parameters, mirroring the reference's canonical param
    * dict (`test_core.py:31-36`: max_depth, eta, objective) plus the
    * sklearn-wrapper knobs (`core.py:388-480`).
    *
    * @param objective        "binary:logistic", "multi:softprob", or
    *                         "reg:squarederror" (reference
    *                         `core.py:580-590` objective semantics)
    * @param numRound         boosting rounds (`num_boost_round`)
    * @param maxDepth         tree depth
    * @param eta              learning rate / step size
    * @param minChildWeight   minimum hessian sum of a child (XGBoost's
    *                         `min_child_weight`); the `rf` strategy
    *                         reads it as MLlib's minInstancesPerNode
    * @param subsample        row subsampling per tree
    * @param missing          value to treat as missing: replaced per
    *                         `missingStrategy` before the fit, and at
    *                         scoring
    * @param multiclassStrategy "softprob" = true multi:softprob
    *                         boosting, K native trees per round
    *                         ([[Objective.Softprob]]); "ovr" = K
    *                         independent logistic channels grown in one
    *                         pass ([[Objective.Ovr]]), probabilities
    *                         the softmax of the margins unless
    *                         [[calibrate]]d; "rf" = MLlib RandomForest
    *                         (single model, native probabilities)
    * @param seed             determinism anchor
    */
  final case class BoostParams(
      objective: String = "binary:logistic",
      numRound: Int = 10,
      maxDepth: Int = 3,
      eta: Double = 0.3,
      minChildWeight: Int = 1,
      subsample: Double = 1.0,
      missing: Option[Double] = None,
      multiclassStrategy: String = "ovr",
      seed: Long = 42L,
      /** How the `missing` marker is handled (reference sparse-skip
        * semantics, `core.py:370-377`):
        *  - "impute": marker → training-time column mean (default;
        *    smooth but diverges from XGBoost on sparse data)
        *  - "sentinel": marker → a training-time out-of-range value
        *    (beyond the feature's observed max), giving missing rows
        *    their own separable region so each split can isolate
        *    them; like XGBoost the marker never blends into
        *    real-value statistics.
        *  - "native": marker → NaN, routed by the sparsity-aware loop
        *    ([[SparseBoost]]) along a default direction LEARNED per
        *    split — the actual XGBoost mechanism (Chen & Guestrin
        *    §3.3). Not for gblinear or the `rf` strategy.
        */
      missingStrategy: String = "impute",
      /** Histogram bins per feature (XGBoost's `max_bin`): at most
        * maxBins − 1 quantile split candidates. 16 measurably cuts fit
        * time on low-cardinality numeric features with no accuracy
        * change (MaxBinsProbe).
        */
      maxBins: Int = 32,
      /** Target quantile for `reg:quantileerror` (XGBoost's
        * `quantile_alpha`); ignored by other objectives.
        */
      quantileAlpha: Double = 0.5,
      /** L2 leaf regularization (XGBoost's `lambda`, default 1), for
        * the round loop ([[SparseBoost]]) and gblinear.
        */
      lambdaL2: Double = 1.0,
      /** Minimum loss reduction to make a split (XGBoost's `gamma` /
        * `min_split_loss`, default 0). Native loop only.
        */
      gammaMinSplitLoss: Double = 0.0,
      /** Fraction of features considered per tree (XGBoost's
        * `colsample_bytree`). The subset is a deterministic hash
        * ranking per round — reproducible with no RNG state. Native
        * loop only.
        */
      colsampleBytree: Double = 1.0,
      /** Fraction of the tree's feature subset re-sampled at each
        * DEPTH (XGBoost's `colsample_bylevel`) and at each NODE
        * (`colsample_bynode`). Cumulative, exactly as in XGBoost:
        * bynode samples from bylevel's subset, which samples from
        * bytree's. Deterministic hash draws. Native loop only.
        */
      colsampleBylevel: Double = 1.0,
      colsampleBynode: Double = 1.0,
      /** Hard cap on the magnitude of each leaf's Newton step BEFORE
        * η (XGBoost's `max_delta_step`, default 0 = no cap) — the
        * stabilizer XGBoost recommends for extremely imbalanced
        * logistic fits. Native loop only.
        */
      maxDeltaStep: Double = 0.0,
      /** Global bias on the margin scale (XGBoost's `base_score` is a
        * PROBABILITY for binary:logistic, default 0.5 → margin 0; here
        * the value is taken on the margin/link scale directly so one
        * knob serves every objective; NaN = objective default). Native
        * loop + gblinear.
        */
      baseScore: Double = Double.NaN,
      /** Gradient/hessian multiplier on positive-class rows
        * (XGBoost's `scale_pos_weight`) — class-imbalance control for
        * binary:logistic. Native loop only.
        */
      scalePosWeight: Double = 1.0,
      /** Per-feature monotone constraints (XGBoost's
        * `monotone_constraints`): +1 non-decreasing, −1
        * non-increasing, 0 free. Empty = unconstrained. Native loop
        * only; enforced by split rejection + child value-bound
        * propagation, so the FINAL model is monotone, not just each
        * split.
        */
      monotoneConstraints: Seq[Int] = Nil,
      /** Feature interaction constraints (XGBoost's
        * `interaction_constraints`): each inner list is a group of
        * feature indices allowed to interact. A node may split on
        * feature j only if some group contains j TOGETHER WITH every
        * feature already used on the root path — XGBoost's exact
        * rule, under which features in no group become unusable once
        * any constraint is given. Empty = unconstrained. Native loop
        * only.
        */
      interactionConstraints: Seq[Seq[Int]] = Nil,
      /** Variance power ρ ∈ (1, 2) for `reg:tweedie` (XGBoost's
        * `tweedie_variance_power`, default 1.5): compound
        * Poisson-gamma — point mass at zero plus positive skew, the
        * insurance-severity shape. Ignored by other objectives.
        */
      tweedieVariancePower: Double = 1.5,
      /** Split-candidate proposal for the native loop (XGBoost's
        * `tree_method` axis): "exact" computes true quantiles of each
        * feature (deterministic; one sort-based aggregate per
        * feature), "approx" uses Spark's mergeable Greenwald-Khanna
        * sketch (`percentile_approx`) — the O(1)-memory-per-partition
        * form that survives 100 TB scans. Candidate sets differ
        * within sketch error; tree quality is equivalent (pinned in
        * SparseBoostSpec). XGBoost additionally hessian-weights its
        * approx sketch per iteration; this proposal is one-shot and
        * unweighted (documented divergence).
        */
      splitProposal: String = "exact",
      /** Tree growth policy for the native loop (XGBoost's
        * `grow_policy`): "depthwise" (default; one histogram pass per
        * level) or "lossguide" (best-first — always expand the
        * highest-gain leaf, LightGBM-style; one histogram pass per
        * expansion). Split semantics are shared, only the expansion
        * ORDER and shape budget differ.
        */
      growPolicy: String = "depthwise",
      /** Leaf budget for `grow_policy = "lossguide"` (XGBoost's
        * `max_leaves`; 0 = unbounded — growth then stops on gain /
        * min_child_weight / maxDepth alone).
        */
      maxLeaves: Int = 0,
      /** L1 leaf/weight regularization (XGBoost's `alpha`, default
        * 0). Used by the gblinear coordinate updates (soft threshold
        * — drives small weights exactly to zero).
        */
      alphaL1: Double = 0.0,
      /** Booster variant (XGBoost's `booster`): "gbtree" (default),
        * "gblinear" — elastic-net coordinate-descent linear boosting
        * ([[LinearBoost]]) — or "dart" — per-round dropout of earlier
        * trees (Vinayak & Gilad-Bachrach 2015) with the paper's
        * "tree" normalization: the round trains against the margins
        * of the NON-dropped trees, the new tree enters at weight
        * 1/(k+1) and the k dropped trees are permanently rescaled by
        * k/(k+1). With `rateDrop = 0` every round degenerates to
        * plain gbtree (bit-identical — pinned in spec). Divergence
        * note: XGBoost entangles the learning rate into its
        * normalization constants (lr/(k+lr)); here η is already
        * folded into stored leaf values, so the paper's constants
        * apply to the η-scaled trees.
        */
      booster: String = "gbtree",
      /** DART dropout rate: each earlier tree independently drops for
        * the round with this probability (deterministic fmix64 of
        * (seed, round, tree) — no RNG state).
        */
      rateDrop: Double = 0.0,
      /** DART: probability a round skips dropout entirely (XGBoost's
        * `skip_drop`); a skipped round is a plain gbtree round.
        */
      skipDrop: Double = 0.0,
      /** Trees trained per boosting round (XGBoost's
        * `num_parallel_tree`): each of the T trees sees the SAME
        * round gradients through its own deterministic subsample and
        * colsample draws, and the round's update is their AVERAGE
        * (leaf values stored pre-scaled by 1/T, so the model stays a
        * plain tree sum). numRound = 1 with T > 1 and eta = 1 is a
        * random forest with native NaN routing. Divergence note:
        * XGBoost SUMS its parallel trees unscaled and leaves the
        * 1/T to the caller's learning-rate choice; averaging here
        * makes T a pure variance knob with no step-size coupling —
        * set [[parallelTreeUpdate]] = "sum" for XGBoost's semantics.
        * Native tree loop only; incompatible with DART (XGBoost
        * shares that restriction).
        */
      numParallelTree: Int = 1,
      /** How a round's T parallel trees enter the margin update:
        *  - "average" (default): leaf values pre-scaled by 1/T, the
        *    round's step is the ensemble MEAN — T is a pure variance
        *    knob decoupled from step size;
        *  - "sum": XGBoost compatibility — member trees summed
        *    UNSCALED (xgboost's num_parallel_tree semantics), the
        *    effective step grows with T exactly as there.
        * T = 1 is bit-identical under both modes (no scaling either
        * way). Round-indexed machinery (truncate, staged eval) is
        * mode-agnostic: it walks whole T-tree round groups.
        */
      parallelTreeUpdate: String = "average",
      /** gblinear coordinate-selection rule per round (XGBoost's
        * `feature_selector`; reference params passthrough
        * core.py:118-124):
        *  - "shotgun" (default): every coordinate moves each round
        *    via the damped simultaneous Jacobi step;
        *  - "greedy": only the [[topK]] coordinates with the largest
        *    bias-adjusted gradient magnitude move (XGBoost: "select
        *    coordinate with the greatest gradient magnitude");
        *  - "thrifty": only the [[topK]] coordinates with the
        *    largest proposed univariate weight-change magnitude move
        *    (XGBoost: "reorders features in descending magnitude of
        *    their univariate weight changes"). Caveat XGBoost shares:
        *    weight-change ranking is scale-sensitive — a small-scale
        *    feature's large weight can monopolize the budget;
        *  - "cyclic": a deterministic round-robin window of [[topK]]
        *    coordinates moves each round;
        *  - "shuffle": cyclic over a per-round hash permutation of
        *    the features (XGBoost's shuffled-cyclic, deterministic
        *    here — no RNG state);
        *  - "random": [[topK]] with-replacement hash draws per round
        *    (deduplicated before applying — a coordinate moves once).
        * Divergence note: XGBoost's greedy re-evaluates gradients
        * after every single coordinate update (O(numFeat²) passes);
        * here selection is within the one distributed stats pass per
        * round — same ranking signal, Jacobi application. gblinear
        * only.
        */
      featureSelector: String = "shotgun",
      /** Coordinates moved per round under greedy/thrifty/cyclic
        * selection (XGBoost's `top_k`); 0 = all features (XGBoost's
        * own 0 default). gblinear only.
        */
      topK: Int = 0
  ) {
    require(parallelTreeUpdate == "average" || parallelTreeUpdate == "sum",
      s"parallelTreeUpdate must be \"average\" or \"sum\", got $parallelTreeUpdate")
    require(Set("shotgun", "cyclic", "greedy", "thrifty", "shuffle", "random")
        .contains(featureSelector),
      s"featureSelector must be shotgun, cyclic, shuffle, random, " +
      s"greedy or thrifty, got $featureSelector")
    require(topK >= 0, s"topK must be >= 0, got $topK")
    require(splitProposal == "exact" || splitProposal == "approx",
      s"splitProposal must be \"exact\" or \"approx\", got $splitProposal")
    require(growPolicy == "depthwise" || growPolicy == "lossguide",
      s"growPolicy must be \"depthwise\" or \"lossguide\", got $growPolicy")
    require(maxLeaves >= 0, s"maxLeaves must be >= 0, got $maxLeaves")
    require(booster == "gbtree" || booster == "dart" || booster == "gblinear",
      s"booster must be \"gbtree\", \"gblinear\" or \"dart\", got $booster")
    require(alphaL1 >= 0.0, s"alphaL1 must be >= 0, got $alphaL1")
    require(colsampleBylevel > 0.0 && colsampleBylevel <= 1.0,
      s"colsampleBylevel must be in (0, 1], got $colsampleBylevel")
    require(colsampleBynode > 0.0 && colsampleBynode <= 1.0,
      s"colsampleBynode must be in (0, 1], got $colsampleBynode")
    require(maxDeltaStep >= 0.0, s"maxDeltaStep must be >= 0, got $maxDeltaStep")
    require(rateDrop >= 0.0 && rateDrop < 1.0,
      s"rateDrop must be in [0, 1), got $rateDrop")
    require(skipDrop >= 0.0 && skipDrop <= 1.0,
      s"skipDrop must be in [0, 1], got $skipDrop")
    require(numParallelTree >= 1,
      s"numParallelTree must be >= 1, got $numParallelTree")
    require(numParallelTree == 1 || booster == "gbtree",
      "num_parallel_tree > 1 needs the tree booster (DART dropout and " +
      "gblinear have no parallel-tree path)")
    GraftBoost.validateMissingStrategy(missingStrategy)
  }

  /** murmur3's 64-bit finalizer — the avalanche mix behind every
    * deterministic no-RNG-state draw in the boosting loops (round
    * subsampling keys, colsample masks, DART dropout). One definition
    * so the constants can never drift between call sites.
    */
  private[ml] def fmix64(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** Deterministic hash-Bernoulli row draw for stochastic-boosting
    * trees (XGBoost's `subsample`, Friedman 2002): whether the row
    * with these feature values and label is in the sample of
    * `keep`/1000 at this seed. Keyed by the CONTENT of (features,
    * label) mixed with the tree's seed, so the sample is reproducible
    * across runs with no RNG state, reshuffles per tree, and stays
    * well-mixed even when labels take only a few distinct values
    * (class ids, small counts — a label-only key would sample whole
    * classes in or out). Content-identical rows sample together, so a
    * tiny frame with few distinct rows can draw no row at all; the
    * round loop then grows that tree on every row.
    */
  private[ml] def roundSample(features: Array[Double], label: Double,
      seed: Long, keep: Long): Boolean = {
    var h = seed ^ 0x9e3779b97f4a7c15L
    var i = 0
    while (i < features.length) {
      h ^= java.lang.Double.doubleToLongBits(features(i))
      h *= 0x100000001b3L
      h ^= h >>> 33
      i += 1
    }
    h ^= java.lang.Double.doubleToLongBits(label)
    h *= 0x100000001b3L
    h ^= h >>> 33
    ((h % 1000) + 1000) % 1000 < keep
  }

  /** Single validator shared by BoostParams and the estimator setter
    * — one place to extend when a new strategy is added.
    */
  def validateMissingStrategy(s: String): Unit =
    require(s == "impute" || s == "sentinel" || s == "native",
      s"unknown missingStrategy '$s' (use \"impute\", \"sentinel\" or \"native\")")

  /** Trained model + training metadata. `numClasses` mirrors the
    * reference's `num_class` model attribute (`core.py:262-264`);
    * `evalsResult` mirrors the per-eval-set history dict
    * (`core.py:120, 259-260`): "train", and "validation" when the fit
    * stopped early on validation rows, both filled as the loop trains.
    */
  final case class GraftBoostModel(
      model: Model[_],
      featureCols: Seq[String],
      objective: String,
      numClasses: Int,
      evalsResult: Map[String, Map[String, Array[Double]]],
      /** Missing-marker substitution learned at training time
        * (marker value, per-feature replacement values — column means
        * under "impute", out-of-range sentinels under "sentinel") —
        * applied at scoring so train and serve see identical
        * preprocessing.
        */
      imputation: Option[(Double, Map[String, Double])] = None,
      /** "impute" or "sentinel" — see [[BoostParams.missingStrategy]]. */
      missingStrategy: String = "impute",
      /** Per-class Platt scaling (A, B) fitted by [[calibrate]]:
        * class probability = sigmoid(A·margin + B), renormalized.
        * None → predictProba falls back to softmax-of-margins.
        */
      calibration: Option[Array[(Double, Double)]] = None
  )

  /** `base_margin` column with a loud null/NaN guard: the scoring
    * expression reads a primitive double, so a null margin would
    * otherwise score as a default value (and a null margin in
    * TRAINING would silently null the gradient chain).
    */
  private[ml] def marginColumn(mc: String): Column = {
    val c = col(mc).cast("double")
    when(c.isNull || isnan(c),
      raise_error(lit(s"base_margin column '$mc' contains null/NaN — " +
        "every row needs a finite margin")))
      .otherwise(c)
  }

  /** A pre-assembled vector column (e.g. embeddings via
    * array_to_vector) stands for the features as it is.
    */
  private def preAssembled(df: DataFrame, featureCols: Seq[String]): Boolean =
    featureCols == Seq("features") &&
      df.schema("features").dataType.typeName == "vector"

  /** The feature columns with the missing marker replaced by the
    * TRAINING-time value (column mean, out-of-range sentinel, or NaN
    * for the native sparse path — learned/fixed at fit time and
    * carried on the model for serve parity), for one projection. A NaN
    * marker (ingested-gblinear stock serving: missing entry = zero
    * contribution) needs the explicit isnan test — equality on NaN is
    * Spark-special-cased but isnan states the intent.
    */
  private def imputed(featureCols: Seq[String],
      imputation: Option[(Double, Map[String, Double])]): Map[String, Column] =
    imputation match {
      case None => Map.empty
      case Some((marker, repl)) =>
        featureCols.map { c =>
          val isMissing = if (marker.isNaN) isnan(col(c)) else col(c) === marker
          c -> when(isMissing, repl(c)).otherwise(col(c))
        }.toMap
    }

  /** Assemble named feature columns into a `features` vector —
    * the `xgb.DMatrix` featurizer equivalence (`core.py:108`;
    * feature-name capture `core.py:107` becomes ML attribute
    * metadata on the vector column). Applies the missing-marker
    * imputation if configured.
    */
  def assemble(
      df: DataFrame,
      featureCols: Seq[String],
      imputation: Option[(Double, Map[String, Double])],
      keepNaN: Boolean = false
  ): DataFrame = {
    if (preAssembled(df, featureCols)) return df
    new VectorAssembler()
      .setInputCols(featureCols.toArray)
      .setOutputCol("features")
      // "keep" lets NaN ride into the vector for the native
      // sparse-skip path; the other strategies keep the erroring
      // default so a stray NaN fails loudly instead of mistraining
      .setHandleInvalid(if (keepNaN) "keep" else "error")
      .transform(imputed(featureCols, imputation) match {
        case m if m.isEmpty => df
        case m => df.withColumns(m)
      })
  }

  /** Distributed training — `train(client, params, data, labels, …)`
    * parity (`core.py:268-321`). The label/weight alignment checks of
    * the reference (`core.py:201-206`) are structurally unnecessary:
    * all columns ride one DataFrame.
    *
    * @param df          training frame holding `featureCols`,
    *                    `labelCol`, optionally `weightCol` and an
    *                    `isVal` boolean validation indicator
    * @param validationCol when set, names a boolean column marking
    *                    held-out rows: they train nothing, and the
    *                    round loop stops once the objective's own
    *                    metric over them has not improved for one
    *                    round, keeping the best round's forest
    *                    (reference early-stopping semantics,
    *                    `core.py:435-449`; [[SparseBoost.EarlyStop]])
    */
  def train(
      df: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      params: BoostParams = BoostParams(),
      weightCol: Option[String] = None,
      validationCol: Option[String] = None,
      /** Query/group id column for ranking objectives — the
        * reference's DMatrix group vector.
        */
      groupCol: Option[String] = None,
      /** Per-row `base_margin` column (the reference's
        * `dmatrix_kwargs` surface, `core.py:143-147`): the boosting
        * recursion starts from this row's margin INSTEAD of the
        * scalar base — stock semantics (base_score unused when
        * base_margin is supplied). Per-row objectives only.
        */
      marginCol: Option[String] = None
  ): GraftBoostModel =
    labelled(df)(fit(df, featureCols, labelCol, params, weightCol,
      validationCol.map(SparseBoost.EarlyStop(_)), groupCol, marginCol, _))

  /** [[train]] with its early stop spelled out: the validation
    * column, the metric (None: the objective's own) and the patience
    * — [[StagedEval.fitWithEarlyStopping]]'s entry.
    */
  private[ml] def trainEarlyStopped(
      df: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      params: BoostParams,
      weightCol: Option[String],
      earlyStop: SparseBoost.EarlyStop
  ): GraftBoostModel =
    labelled(df)(fit(df, featureCols, labelCol, params, weightCol, Some(earlyStop),
      None, None, _))

  /** A fit labels its jobs `boost: <phase>`; the caller's own job
    * description (passed to `body`) is put back however the fit ends.
    */
  private def labelled[T](df: DataFrame)(body: String => T): T = {
    val sc = df.sparkSession.sparkContext
    val callerDescription = sc.getLocalProperty("spark.job.description")
    try body(callerDescription)
    finally sc.setJobDescription(callerDescription)
  }

  private def fit(
      df: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      params: BoostParams,
      weightCol: Option[String],
      earlyStop: Option[SparseBoost.EarlyStop],
      groupCol: Option[String],
      marginCol: Option[String],
      callerDescription: String
  ): GraftBoostModel = {
    val native = params.missingStrategy == "native"
    val ranking = params.objective.startsWith("rank:")
    val multiclass =
      params.objective == "multi:softprob" || params.objective == "multi:softmax"
    // multiclassStrategy "rf" is the one fit outside the round loop
    val forest = multiclass && params.multiclassStrategy == "rf"
    if (marginCol.isDefined)
      require(!ranking && !multiclass && params.booster != "gblinear",
        "per-row base_margin starts the per-row objectives of the round " +
        "loop; the linear, ranking and multiclass fits have no " +
        "margin-initialization hook")
    val sc = df.sparkSession.sparkContext
    // The fit's input statistics in one aggregate over the caller's
    // frame: the row count (sizes the train fan-out below), per feature
    // the mean (impute) or max (sentinel) of the non-marker values of
    // the training rows — stored on the model for serve-time parity —
    // and the class count. native: the marker becomes NaN and the
    // sparse loop routes it along the learned default branch — nothing
    // to learn there
    val sentinel = params.missingStrategy == "sentinel"
    val trains = earlyStop.fold(lit(true))(es => !coalesce(col(es.col), lit(false)))
    val stats = params.missing.filter(_ => !native).toSeq.flatMap { m =>
      featureCols.map { c =>
        val present = when(col(c) =!= m && trains, col(c))
        if (sentinel) max(present) else avg(present)
      }
    }
    sc.setJobDescription("boost: input stats")
    val row = df.select((count(lit(1)) +: stats) ++
      (if (multiclass) Seq(max(col(labelCol).cast("double"))) else Nil): _*).head()
    val imputation = params.missing.map { m =>
      m -> featureCols.zipWithIndex.map { case (c, i) =>
        if (native) c -> Double.NaN
        else {
          // 0.0 when every value of the column is the marker
          val v = Option(row.get(i + 1)).map(_.toString.toDouble).getOrElse(0.0)
          c -> (if (sentinel) v + 1.0 + math.abs(v) else v)
        }
      }.toMap
    }
    // Class inference = the reference's eager distributed distinct
    // (`core.py:561-566`).
    lazy val numClasses = row.getDouble(1 + stats.length).toInt + 1
    // Fan the training frame out BY NUMBER before the fit: a
    // single-row-group parquet source leaves every row in ONE task
    // regardless of split count (splits below row-group size are
    // empty), which serializes every per-round stats/histogram pass
    // onto one core. One shuffle of the slim assembled rows, amortized
    // over numRound × levels passes; XGBoost4J-Spark likewise
    // repartitions to its worker count at train entry. SIZE-AWARE: the
    // partition count is n / TrainRowsPerTask capped at
    // defaultParallelism — a tiny frame must NOT be split 32 ways, or
    // task-launch overhead × (rounds × levels) passes dominates
    // (measured: 9.5s → 15s on ml_multiclass_softprob with an
    // unconditional fan-out). The count rides the input-stats
    // aggregate above. Partition contents stay deterministic
    // (sortBeforeRepartition), so the partition-index partial folds
    // keep their bit-stability contract.
    // Project to EXACTLY the columns training reads before anything is
    // shuffled or stored: VectorAssembler keeps its raw inputs (and
    // whatever else rides the frame — text payloads on the text
    // queries), so an unprojected fan-out shuffles and materializes
    // the feature bytes twice plus dead columns on every pre-round
    // pass (guide §2.3 "project before the exchange").
    val trainCols: Seq[Column] =
      (Seq("features", "label") ++
        (weightCol ++ earlyStop.map(_.col) ++ groupCol ++ marginCol))
        .distinct.map(col)
    val assembled = assemble(df, featureCols, imputation, keepNaN = native)
      .withColumn("label", col(labelCol).cast("double"))
      .select(trainCols: _*)
    val trainParts = math.min(sc.defaultParallelism.toLong,
      math.max(1L, row.getLong(0) / TrainRowsPerTask)).toInt
    // Materialize the (repartitioned, slim) training frame ONCE before
    // the fit. Without this every pre-round action — the proposeEdges
    // quantile pass, the base-score mean, the round-0 margin
    // checkpoint — re-executes the assemble pipeline AND the fan-out
    // shuffle from the source (3-4 redundant executions per fit; worse
    // when the source is a single-row-group parquet whose scan is one
    // serial task). localCheckpoint is eager and freezes the layout one
    // repartition execution produces, so the partition-index partial
    // folds see one consistent layout; at cluster scale caching the
    // training frame across rounds×levels passes is the standard
    // distributed-boosting posture (XGBoost4J-Spark caches its
    // converted input the same way).
    sc.setJobDescription("boost: train materialize")
    val data =
      (if (trainParts > 1) assembled.repartition(trainParts) else assembled)
        .localCheckpoint()
    // unlabelled phases (the gblinear and random-forest fits) run
    // under the caller's label
    sc.setJobDescription(callerDescription)
    // the checkpoint is released however the fit ends: nothing reads it
    // after the loop returns, and the model holds no reference to it
    try {
      if (params.booster == "gblinear") {
        require(!native,
          "gblinear has no sparse-skip routing — use missingStrategy " +
          "\"impute\" or \"sentinel\" with the linear booster")
        val (m, histL, histV) = LinearBoost.train(data, params, weightCol, earlyStop)
        val metric = Objective(params).metricName
        return GraftBoostModel(m, featureCols, params.objective,
          if (params.objective == "binary:logistic") 2 else 0,
          Map("train" -> Map(metric -> histL)) ++ earlyStop.map(es =>
            "validation" -> Map(es.metric.getOrElse(metric) -> histV)),
          imputation, params.missingStrategy)
      }
      if (forest) {
        // XGBoost's random-forest mode on this loop waits for the
        // executor-side split search (ROADMAP direction 5)
        require(!native && earlyStop.isEmpty && params.booster == "gbtree" &&
            params.growPolicy == "depthwise" && params.numParallelTree == 1,
          "multiclassStrategy=\"rf\" is a random forest of numRound trees: it " +
          "takes no missingStrategy \"native\", validation rows, dart, " +
          "lossguide or num_parallel_tree")
        val rf = new RandomForestClassifier()
          .setFeaturesCol("features").setLabelCol("label")
          .setNumTrees(params.numRound).setMaxDepth(params.maxDepth)
          .setSubsamplingRate(params.subsample)
          .setMinInstancesPerNode(params.minChildWeight)
          .setMaxBins(params.maxBins)
          .setSeed(params.seed)
        weightCol.foreach(rf.setWeightCol)
        return GraftBoostModel(rf.fit(data), featureCols, params.objective,
          numClasses, Map.empty, imputation, params.missingStrategy)
      }

      if (ranking) {
        require(groupCol.isDefined,
          "ranking objectives need groupCol (the DMatrix group vector)")
        require(weightCol.isEmpty,
          "ranking objectives take no weightCol: their pair gradients " +
          "are per group, and a per-row weight has no place in them")
        require(params.numParallelTree == 1,
          "num_parallel_tree > 1 has no ranking path")
      }
      val classes =
        if (multiclass) numClasses
        else if (params.objective == "binary:logistic") 2
        else 0
      val objective = Objective(params, classes)
      val fit = SparseBoost.train(
        if (ranking) data.withColumn("group", col(groupCol.get)) else data,
        params, objective, weightCol, marginCol, earlyStop)
      val model: Model[_] =
        if (multiclass) // round-major: round r's K class trees follow round r−1's
          new MultiSparse.MultiSparseModel(s"${params.multiclassStrategy}_${params.seed}",
            fit.trees,
            Array.tabulate(fit.trees.length)(i => i / params.numParallelTree % classes),
            classes, fit.base, objective.name, fit.stats)
        else fit.sparseModel(s"${if (ranking) "rank" else "sparse"}_${params.seed}", params)
      GraftBoostModel(model, featureCols, params.objective, classes,
        Map("train" -> Map(objective.metricName -> fit.history)) ++ earlyStop.map(es =>
          "validation" -> Map(es.metric.getOrElse(objective.metricName) -> fit.validation)),
        imputation, params.missingStrategy)
    } finally GraftRddBridge.release(data)
  }

  /** Distributed lazy scoring — `predict(client, model, data)` parity
    * (`core.py:366-377`). Returns the input columns plus `prediction`
    * (double; class id or regression value). The multiclass shape
    * bookkeeping of the reference (`core.py:369-377`) is subsumed by
    * the probability vector column; see [[predictProba]].
    */
  def predict(
      model: GraftBoostModel,
      df: DataFrame,
      /** Per-row `base_margin` column — replaces the model's scalar
        * base at scoring, stock `DMatrix(base_margin=...)` semantics.
        * Native sparse forests only.
        */
      marginCol: Option[String] = None
  ): DataFrame = model.model match {
    case _: SparseBoost.SparseModel => scoreNative(model, df, "prediction", marginCol)
    case other if marginCol.isDefined => throw new IllegalArgumentException(
      "per-row base_margin scoring is supported on native sparse " +
      s"forests only, not ${other.getClass.getSimpleName}")
    case m: RandomForestClassificationModel =>
      m.transform(assemble(df, model.featureCols, model.imputation))
        .drop("features", "rawPrediction", "probability")
    case _ => scoreNative(model, df, "prediction")
  }

  /** Class-probability scoring — `predict_proba` parity
    * (`core.py:626-631`): emits `proba` as array<double> of length
    * numClasses (the reference's (n, num_class) matrix,
    * `core.py:374`).
    */
  def predictProba(
      model: GraftBoostModel,
      df: DataFrame,
      /** Per-row `base_margin` column — see [[predict]]. Binary
        * native sparse forests only.
        */
      marginCol: Option[String] = None
  ): DataFrame = model.model match {
    case m: SparseBoost.SparseModel if m.objective == "binary:logistic" =>
      // sigmoid of the boosted margin — the XGBoost binary proba
      scoreNative(model, df, "proba", marginCol)
    case other if marginCol.isDefined => throw new IllegalArgumentException(
      "per-row base_margin probabilities are supported on binary " +
      s"native sparse forests only, not ${other.getClass.getSimpleName}")
    case _: MultiSparse.MultiSparseModel =>
      // softmax of the K margins — or, once [[calibrate]]d, each
      // class's Platt sigmoid σ(A·margin + B), renormalized
      model.calibration.fold(scoreNative(model, df, "proba")) { ab =>
        val margins = col("margins")
        val scores = array(ab.toIndexedSeq.zipWithIndex.map { case ((a, b), i) =>
          lit(1.0) / (lit(1.0) + exp(-(lit(a) * element_at(margins, i + 1) + lit(b))))
        }: _*)
        scoreNative(model, df, "margins")
          .withColumn("sc", scores)
          .withColumn("proba", {
            val denom = aggregate(col("sc"), lit(0.0), (acc, x) => acc + x)
            transform(col("sc"), x => x / denom)
          })
          .drop("margins", "sc")
      }
    case m: LinearBoost.LinearModel if m.objective == "binary:logistic" =>
      scoreNative(model, df, "proba")
    case m: RandomForestClassificationModel =>
      m.transform(assemble(df, model.featureCols, model.imputation))
        .withColumn("proba", vector_to_array(col("probability")))
        .drop("features", "rawPrediction", "probability")
    case m =>
      throw new IllegalStateException(s"model has no probabilities: ${m.getClass}")
  }

  /** A model's `output` ([[ForestScore]]) in one projection: the
    * caller's columns (named feature columns imputed, as [[assemble]]
    * leaves them; a pre-assembled `features` vector dropped), then the
    * `lead` columns (an attribution's constant bias), then the score.
    */
  private[ml] def scoreNative(model: GraftBoostModel, df: DataFrame, output: String,
      marginCol: Option[String] = None, lead: Seq[(String, Column)] = Nil): DataFrame = {
    val bm = marginCol.map(marginColumn)
    // one projection, so the scorer reads the raw cells under its own
    // marker rule
    if (preAssembled(df, model.featureCols))
      df.withColumns(ListMap(lead :+ (output -> ForestScore.overVector(df.sparkSession,
        model.model, output, col("features"), bm)): _*)).drop("features")
    else
      df.withColumns(ListMap(imputed(model.featureCols, model.imputation).toSeq ++ lead :+
        (output -> ForestScore.overColumns(df.sparkSession, model.model, output,
          model.featureCols, model.imputation,
          keepNaN = model.missingStrategy == "native", bm)): _*))
  }

  /** Deterministic (train, calibration) split for [[calibrate]]:
    * rows are bucketed by a content hash over every column, so the
    * split is reproducible regardless of partitioning or row order —
    * no shuffle, no sampling state, identical on re-read. Returns
    * (trainDf, calDf) with ≈ calFraction of rows in the calibration
    * side. Calibrating on training rows reuses margins the trees
    * partially memorized and yields overconfident probabilities on
    * fresh data — always calibrate on the held-out side.
    */
  def calibrationSplit(
      df: DataFrame,
      calFraction: Double = 0.2,
      seed: Long = 42L
  ): (DataFrame, DataFrame) = {
    require(calFraction > 0 && calFraction < 1,
      s"calFraction must be in (0, 1), got $calFraction")
    val bucket = pmod(
      xxhash64(struct(df.columns.map(col).toIndexedSeq: _*), lit(seed)), lit(1000L))
    val cut = math.max(1L, math.round(calFraction * 1000))
    (df.filter(bucket >= cut), df.filter(bucket < cut))
  }

  /** Platt-scale a one-vs-rest forest's per-class margins on a
    * calibration frame (ideally held out): per class c, fit
    * p(y = c | margin_c) = sigmoid(A·margin_c + B) with a
    * single-feature logistic regression, store (A, B) on the model.
    * predictProba then renormalizes the calibrated per-class
    * sigmoids — real probabilities in place of softmax-of-margins
    * (reference `multi:softprob` semantics, `core.py:580-590`).
    * One scoring pass + numClasses tiny single-feature LR fits.
    *
    * The per-class fit uses Platt's OUT-OF-SAMPLE TARGET SMOOTHING
    * (Platt 1999 §2.2): instead of hard 0/1 labels, the sigmoid is
    * fit against t₊ = (N₊+1)/(N₊+2) and t₋ = 1/(N₋+2) — expressed
    * here as two weighted soft-label copies per calibration row.
    * Without it, a class whose margins separate the calibration
    * frame drives the slope A toward ∞ and every later
    * misclassification of that class to a ~0 probability (unbounded
    * log-loss on one wrong row); with it the reachable probability
    * range is bounded by the calibration counts, exactly as Platt
    * prescribes for separable calibration sets.
    */
  def calibrate(
      model: GraftBoostModel,
      df: DataFrame,
      labelCol: String
  ): GraftBoostModel = model.model match {
    // one-vs-rest: its K channels are binary:logistic forests
    case m: MultiSparse.MultiSparseModel if !m.objective.startsWith("multi:") =>
      import org.apache.spark.ml.classification.LogisticRegression
      import org.apache.spark.ml.functions.array_to_vector
      val raw = scoreNative(model, df.withColumn("graft_cal_label",
          col(labelCol).cast("double")), "margins", None)
        .select(col("margins").as("m"), col("graft_cal_label").as("label"))
        .cache()
      // per-class positive counts for Platt's smoothed targets —
      // numClasses rows, model-sized by construction
      val classCounts = raw.groupBy(col("label")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
      val nTotal = classCounts.values.sum
      val params = (0 until model.numClasses).map { c =>
        val nPos = classCounts.getOrElse(c.toDouble, 0L)
        val nNeg = nTotal - nPos
        val tPos = (nPos + 1.0) / (nPos + 2.0)
        val tNeg = 1.0 / (nNeg + 2.0)
        // soft target t per row, expressed as two weighted hard-label
        // copies: (label=1, w=t) + (label=0, w=1−t) — the weighted
        // log-likelihood is identical to the soft-label fit
        val t = when(col("label") === c, lit(tPos)).otherwise(lit(tNeg))
        val d = raw.select(
          array_to_vector(array(element_at(col("m"), c + 1))).as("features"), t.as("t"))
        val soft = d.select(col("features"), lit(1.0).as("label"), col("t").as("w"))
          .unionAll(d.select(col("features"), lit(0.0).as("label"),
            (lit(1.0) - col("t")).as("w")))
        val fit = new LogisticRegression().setMaxIter(50).setWeightCol("w").fit(soft)
        (fit.coefficients(0), fit.intercept)
      }.toArray
      raw.unpersist(false)
      model.copy(calibration = Some(params))
    case m => throw new UnsupportedOperationException(
      s"Platt calibration targets one-vs-rest multiclass forests, got ${m.getClass}")
  }

  /** Local eager scoring of a single feature vector — the reference's
    * local predict path (`core.py:378-382`): no cluster round-trip,
    * the driver-resident model scores directly.
    */
  def predictLocal(model: GraftBoostModel, features: Vector): Double = {
    // Apply the model's missing-marker preprocessing exactly as the
    // distributed path does (assemble) — otherwise the local path has
    // train/serve skew whenever BoostParams.missing is set.
    val f = model.imputation match {
      case None => features
      case Some((marker, repl)) =>
        val arr = features.toArray.clone()
        var i = 0
        while (i < arr.length) {
          if (arr(i) == marker) arr(i) = repl(model.featureCols(i))
          i += 1
        }
        org.apache.spark.ml.linalg.Vectors.dense(arr)
    }
    model.model match {
      case m: RandomForestClassificationModel => m.predict(f)
      case m: MultiSparse.MultiSparseModel =>
        val margins = m.marginsOf(f)
        margins.indices.maxBy(margins(_)).toDouble
      case m: SparseBoost.SparseModel     => m.predictOne(f)
      case m: LinearBoost.LinearModel     => m.predictOne(f.toArray)
      case m => throw new UnsupportedOperationException(
        s"local predict unavailable for ${m.getClass}")
    }
  }

  /** Per-feature importances — `feature_importances_` parity
    * (reference `test_core.py:57` asserts distributed ≡ local
    * importances), normalized to sum to 1: the native forests' total
    * split gain, the random forest's MLlib impurity importances.
    * Keys are the training feature columns (or `f0..fn` for a
    * pre-assembled vector).
    */
  def featureImportances(model: GraftBoostModel): Map[String, Double] = {
    def ofModel(m: Model[_]): Array[Double] = m match {
      case g: RandomForestClassificationModel => g.featureImportances.toArray
      case sb: SparseBoost.SparseModel =>
        // per-feature total split gain accumulated during training —
        // XGBoost's `total_gain` importance, already normalized
        sb.importances
      case mm: MultiSparse.MultiSparseModel =>
        // multiclass forest: normalized total_gain over the training
        // split statistics (or, for an ingested document, the ones
        // rebuilt from its loss_changes)
        val g = mm.importanceByType("total_gain")
        val tot = g.sum
        if (tot > 0) g.map(_ / tot) else g
      case lm: LinearBoost.LinearModel =>
        // gblinear "importance" is the weight vector; normalize its
        // magnitudes so the contract (sums to 1) matches tree models
        val mag = lm.weights.map(math.abs)
        val tot = mag.sum
        if (tot > 0) mag.map(_ / tot) else mag
      case m => throw new UnsupportedOperationException(
        s"feature importances unavailable for ${m.getClass}")
    }
    val imp = ofModel(model.model)
    val names =
      if (model.featureCols == Seq("features")) imp.indices.map(i => s"f$i")
      else model.featureCols
    names.zip(imp).toMap
  }
}
