package graft.ml

import org.json4s.{DefaultFormats, JArray, JBool, JDecimal, JDouble, JInt, JLong, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods

import GraftBoost.GraftBoostModel
import LinearBoost.LinearModel
import MultiSparse.MultiSparseModel
import SparseBoost.{ImportanceAcc, SparseModel, SparseTree}

/** XGBoost-format model interchange: emit and ingest the PUBLIC
  * XGBoost JSON model schema (xgboost doc/model.schema, the
  * `save_model("model.json")` format), so models trained here are
  * portable to stock XGBoost tooling and vice versa. Covers all three
  * public booster slots:
  *
  *  - `gbtree` — the native-loop forests ([[SparseBoost.SparseModel]]),
  *    single-target AND multiclass (`num_class` = K with round-major
  *    trees and per-tree class ids in `tree_info`, the schema's
  *    multiclass layout). The engine's true-softprob forests
  *    ([[Objective.Softprob]], reference `core.py:580-590`) ARE the native
  *    [[MultiSparse.MultiSparseModel]] scorer multiclass documents
  *    ingest into. Every boosted objective trains on that loop, so
  *    every boosted fit exports — except `reg:quantileerror` /
  *    `reg:absoluteerror` (line-searched leaves) and one-vs-rest
  *    forests (K binary channels, optionally Platt-calibrated), whose
  *    scoring rules have no schema slot.
  *  - `dart` — a forest whose dropout rounds fired exports as the
  *    schema's dart slot (gbtree submodel + `weight_drop`); ingest
  *    folds `weight_drop` into the stored leaf values (the plain-sum
  *    serving semantics) and marks the model non-truncatable, the
  *    same restriction XGBoost places on `ntree_limit` with dart.
  *  - `gblinear` — coefficients + bias in the schema's weights layout
  *    (`[w_0..w_{n-1}, bias]` for one output group).
  *
  * Documented divergences (also stamped into the artifact under
  * `learner.attributes.graft.divergences`):
  *
  *  - SPLIT COMPARISON. XGBoost routes `x < split_condition` left;
  *    this engine routes `x <= thresh` left. Export writes
  *    `nextUp(thresh)` so XGBoost's strict `<` accepts exactly the
  *    same values; import converts back with `nextDown` — an exact
  *    double-level inverse, so a round trip preserves thresholds
  *    bit-for-bit and either engine scores the file identically.
  *  - PRECISION. XGBoost stores float32 model fields; this engine is
  *    float64 end-to-end and writes float64 JSON numbers (legal JSON
  *    against the schema). Stock XGBoost ingesting the file truncates
  *    to f32 (ulp-level score differences); ingest HERE keeps f64.
  *  - BASE SCORE. `learner_model_param.base_score` carries the
  *    XGBoost-faithful ORIGINAL-space value (probability / rate);
  *    the exact margin-space base also rides in
  *    `learner.attributes.graft.base_margin` and wins on ingest when
  *    present (link-function round trips lose ulps otherwise). Files
  *    from stock XGBoost (no attribute) take the inverse-link path
  *    (identity for `multi:*` — the softmax objective's margin shift
  *    is uniform across classes and cancels in softmax/argmax).
  *  - IMPORTANCE STATS. `loss_changes` carries the real per-node
  *    split gains. Ingest REBUILDS the aggregate `get_score`
  *    statistics (weight / total_gain / total_cover and the per-split
  *    averages) from the document's per-node `loss_changes` +
  *    `sum_hessian`, so importance queries work on ingested models —
  *    including stock XGBoost files, which always carry both arrays.
  *    A model whose own gains are unknown (loaded from a pre-gain
  *    [[ModelIO]] artifact) exports zeros there plus the
  *    `graft.stats_absent` attribute; ingest honors the marker by
  *    restoring "stats unavailable" (empty gain arrays, no aggregate
  *    stats) instead of silently converting absence into real 0.0s.
  *  - DART WEIGHTS. This engine folds dropout normalization into the
  *    stored leaf values at train time (the stored forest is a plain
  *    sum), so its dart export carries `weight_drop` of all 1.0 —
  *    stock XGBoost then scores the file identically. Stock dart
  *    files with real weights ingest by folding each tree's weight
  *    into its leaf values (same serving sum).
  *  - INTERNAL NODE VALUES. Scoring and TreeSHAP are exact on any
  *    ingested file (they need only structure, leaf outputs and
  *    `sum_hessian`). Saabas contributions additionally walk internal
  *    node values: own exports round-trip them exactly via
  *    `base_weights`; STOCK files store base_weights WITHOUT the
  *    learning rate there, so ingest recomputes internal values as
  *    cover-weighted subtree means of the leaf outputs — the Saabas
  *    expectation, restoring the additivity identity by construction
  *    (attributions then reflect the recomputed expectations, not
  *    XGBoost's raw unscaled weights).
  *  - `evals_result` history, calibration, and the missing-marker
  *    imputation statistics are engine-side training artifacts with
  *    no schema slot; [[ModelIO]] remains the lossless sink. Ingested
  *    tree models score with `missingStrategy = "native"` (NaN
  *    follows the file's `default_left`), matching XGBoost serving
  *    semantics; ingested gblinear scores a NaN entry as ZERO
  *    contribution (NaN → 0.0 imputation at assemble), matching stock
  *    gblinear's sparse dot product, which simply skips missing
  *    entries.
  */
object XgbJson {

  private implicit val fmt: DefaultFormats.type = DefaultFormats

  private val DivergenceNote =
    "float64 fields; thresholds pre-shifted with nextUp for " +
    "strict-< routing; see graft.ml.XgbJson scaladoc"

  /** margin -> original-space base_score per objective link. */
  private def toBaseScore(objective: String, margin: Double): Double =
    objective match {
      case "binary:logistic" => 1.0 / (1.0 + math.exp(-margin))
      case o if o.startsWith("count:") || o == "reg:tweedie" ||
        o == "reg:gamma" => math.exp(margin)
      case _ => margin
    }

  private def fromBaseScore(objective: String, score: Double): Double =
    objective match {
      case "binary:logistic" => math.log(score / (1.0 - score))
      case o if o.startsWith("count:") || o == "reg:tweedie" ||
        o == "reg:gamma" => math.log(score)
      case _ => score
    }

  /** A model trained through the vector pass-through (featureCols IS
    * the pre-assembled `features` vector, [[GraftBoost.assemble]]'s
    * structural signal) has split/weight slots spanning the vector's
    * dimension, not a named column list — emitting `num_feature = 1`
    * with feature name "features" would be a silently mislabeled
    * document. Detected structurally, with the max split index as a
    * corruption backstop for hand-built models.
    */
  private def namedFeatureGuard(model: GraftBoostModel, maxIdx: Int): Unit = {
    require(model.featureCols != Seq("features"),
      "the model was trained on a pre-assembled vector column " +
      "(featureCols is the vector itself) — per-slot feature names " +
      "don't exist, so the document would be silently mislabeled; " +
      "train on named feature columns for JSON interchange")
    require(maxIdx < model.featureCols.length,
      s"model uses feature slot $maxIdx but only " +
      s"${model.featureCols.length} named feature column(s) exist — " +
      "corrupt or mislabeled model")
  }

  /** Serialize a model to the XGBoost JSON model format. Dispatches
    * on the trained booster: native-loop forests → `gbtree` (or
    * `dart` when dropout rounds fired; `count:poisson` among them,
    * its log-link base carried as an exp-link `base_score`), trained
    * softprob / ingested multiclass forests → multiclass `gbtree`,
    * linear models → `gblinear`. Refuses the quantile-leaf forests
    * (`reg:quantileerror`, `reg:absoluteerror`, by objective name) and
    * the one-vs-rest (Platt-calibrated or not) and random-forest
    * multiclass models — their scoring rules have no schema slot;
    * [[ModelIO]] persists those.
    */
  def export(model: GraftBoostModel): String = model.model match {
    case sm: SparseModel =>
      // the quantile leaf rule writes α-quantiles of residuals, not
      // the Newton steps a gbtree document's leaves are
      require(sm.objective != "reg:quantileerror" && sm.objective != "reg:absoluteerror",
        s"XGBoost JSON has no slot for a ${sm.objective} forest's " +
        "line-searched leaves — use ModelIO for engine-native " +
        "persistence")
      val maxIdx = sm.trees.iterator.flatMap(_.feature.iterator)
        .filter(_ >= 0).maxOption.getOrElse(-1)
      namedFeatureGuard(model, maxIdx)
      val booster = JObject(
        "model" -> treeModelJson(sm.trees, Array.fill(sm.trees.length)(0),
          model.featureCols.length, sm.treesPerRound,
          numParallelTree = sm.treesPerRound),
        "name" -> JString("gbtree"))
      val wrapped =
        if (!sm.dartRescaled) booster
        else JObject(
          // dropout normalization is folded into the stored leaves
          // at train time — unit drop weights keep the serving sum
          "model" -> JObject(
            "gbtree" -> (booster \ "model").asInstanceOf[JObject],
            "weight_drop" -> JArray(
              List.fill(sm.trees.length)(JDouble(1.0): JValue))),
          "name" -> JString("dart"))
      learnerDoc(model, wrapped, numClass = 0, sm.base,
        objectiveJson(sm.objective, 0),
        statsAbsent = sm.trees.exists(t => t.gain.length != t.feature.length),
        dartRescaled = sm.dartRescaled,
        categoricalFeatures = categoricalSlots(sm.trees))

    case mm: MultiSparseModel =>
      // one-vs-rest: K binary:logistic channels, which no multiclass
      // objective of the schema scores
      require(mm.objective.startsWith("multi:"),
        "XGBoost JSON has no slot for a one-vs-rest forest — use " +
        "ModelIO for engine-native persistence")
      val maxIdx = mm.trees.iterator.flatMap(_.feature.iterator)
        .filter(_ >= 0).maxOption.getOrElse(-1)
      namedFeatureGuard(model, maxIdx)
      val booster = JObject(
        "model" -> treeModelJson(mm.trees, mm.treeInfo,
          model.featureCols.length, treesPerIteration(mm)),
        "name" -> JString("gbtree"))
      // a dart-ingested forest re-exports through the dart slot (unit
      // weights — the drops are folded into its leaves), never
      // silently relabeled as plain gbtree
      val wrapped =
        if (!mm.dartFolded) booster
        else JObject(
          "model" -> JObject(
            "gbtree" -> (booster \ "model").asInstanceOf[JObject],
            "weight_drop" -> JArray(
              List.fill(mm.trees.length)(JDouble(1.0): JValue))),
          "name" -> JString("dart"))
      learnerDoc(model, wrapped, numClass = mm.numClasses, mm.base,
        objectiveJson(mm.objective, mm.numClasses),
        statsAbsent = mm.trees.exists(t => t.gain.length != t.feature.length),
        dartRescaled = mm.dartFolded,
        categoricalFeatures = categoricalSlots(mm.trees))

    case lm: LinearModel =>
      namedFeatureGuard(model, lm.weights.length - 1)
      require(lm.weights.length == model.featureCols.length,
        s"gblinear weight count ${lm.weights.length} != feature count " +
        s"${model.featureCols.length} — corrupt or mislabeled model")
      // schema layout for one output group: [w_0 .. w_{n-1}, bias]
      val booster = JObject(
        "model" -> JObject(
          "weights" -> JArray(
            (lm.weights.toList :+ lm.bias).map(JDouble(_): JValue))),
        "name" -> JString("gblinear"))
      // the schema's weights slot carries bias SEPARATELY from
      // base_score (stock serving adds BOTH), so base_score encodes
      // lm.base alone — encoding base+bias would double-count the
      // bias in stock XGBoost
      learnerDoc(model, booster, numClass = 0, lm.base,
        objectiveJson(lm.objective, 0), statsAbsent = false)

    case other => throw new IllegalArgumentException(
      "XGBoost JSON interchange covers the native-loop forests " +
      "(single and multiclass, softprob included) and the linear " +
      s"booster; got " +
      s"${other.getClass.getSimpleName} — use ModelIO for " +
      "engine-native persistence")
  }

  /** trees-per-iteration for a multiclass forest: K when `tree_info`
    * has the plain round-major layout, else the whole forest is one
    * iteration (a safe `iteration_indptr` for irregular layouts).
    */
  private def treesPerIteration(mm: MultiSparseModel): Int = {
    val K = mm.numClasses
    val roundMajor = mm.trees.length % K == 0 &&
      mm.treeInfo.indices.forall(i => mm.treeInfo(i) == i % K)
    if (roundMajor) K else mm.trees.length
  }

  private def objectiveJson(name: String, numClass: Int): JObject =
    if (name.startsWith("multi:"))
      JObject("name" -> JString(name),
        "softmax_multiclass_param" -> JObject(
          "num_class" -> JString(numClass.toString)))
    else JObject("name" -> JString(name))

  /** The gbtree `model` object: per-tree documents + tree bookkeeping
    * (`tree_info` class ids, `iteration_indptr` grouping trees into
    * boosting iterations of `treesPerIter`).
    */
  private def treeModelJson(
      trees: Array[SparseTree],
      treeInfo: Array[Int],
      numFeature: Int,
      treesPerIter: Int,
      /** num_parallel_tree to stamp — equals treesPerIter only for a
        * single-target parallel-tree forest; multiclass iterations
        * group K class trees that are NOT parallel trees.
        */
      numParallelTree: Int = 1
  ): JObject = {
    val treeDocs = trees.map { t =>
      val n = t.feature.length
      val parents = Array.fill(n)(2147483647) // root convention
      var i = 0
      while (i < n) {
        if (t.feature(i) >= 0) { parents(t.left(i)) = i; parents(t.right(i)) = i }
        i += 1
      }
      def leaf(i: Int) = t.feature(i) < 0
      def isCat(i: Int) = t.cats != null && t.cats(i) != null
      // categorical nodes (ingested 1.5+ documents only; trained
      // forests have none) re-export through the four categories
      // arrays so a round trip preserves set-membership routing
      val catNodes = if (t.cats == null) Array.empty[Int]
        else (0 until n).filter(isCat).toArray
      val catSizes = catNodes.map(i => t.cats(i).length)
      val catSegs = catSizes.scanLeft(0)(_ + _).init
      JObject(
        "base_weights" -> JArray(t.value.map(JDouble(_): JValue).toList),
        "categories" -> JArray(
          catNodes.flatMap(i => t.cats(i)).map(JInt(_): JValue).toList),
        "categories_nodes" -> JArray(catNodes.map(JInt(_): JValue).toList),
        "categories_segments" -> JArray(catSegs.map(JInt(_): JValue).toList),
        "categories_sizes" -> JArray(catSizes.map(JInt(_): JValue).toList),
        "default_left" -> JArray(
          t.defaultLeft.map(b => JInt(if (b) 1 else 0): JValue).toList),
        "id" -> JInt(0),
        "left_children" -> JArray(
          (0 until n).map(i => JInt(if (leaf(i)) -1 else t.left(i)): JValue).toList),
        "right_children" -> JArray(
          (0 until n).map(i => JInt(if (leaf(i)) -1 else t.right(i)): JValue).toList),
        "loss_changes" -> JArray(
          (if (t.gain.length == n) t.gain.toSeq else Seq.fill(n)(0.0))
            .map(JDouble(_): JValue).toList),
        "parents" -> JArray(parents.map(JInt(_): JValue).toList),
        // leaves carry their value in split_conditions (the schema's
        // convention); internal nodes the <-compatible threshold;
        // categorical nodes a 0.0 placeholder (their condition lives
        // in the categories arrays — a NaN thresh is not valid JSON)
        "split_conditions" -> JArray((0 until n).map(i =>
          JDouble(if (leaf(i)) t.value(i)
            else if (isCat(i)) 0.0
            else math.nextUp(t.thresh(i))): JValue).toList),
        "split_indices" -> JArray((0 until n).map(i =>
          JInt(if (leaf(i)) 0 else t.feature(i)): JValue).toList),
        "split_type" -> JArray((0 until n).map(i =>
          JInt(if (isCat(i)) 1 else 0): JValue).toList),
        "sum_hessian" -> JArray(t.cover.map(JDouble(_): JValue).toList),
        "tree_param" -> JObject(
          "num_deleted" -> JString("0"),
          "num_feature" -> JString(numFeature.toString),
          "num_nodes" -> JString(n.toString),
          "size_leaf_vector" -> JString("1"))
      )
    }
    val nIter = trees.length / math.max(treesPerIter, 1)
    val indptr = (0 to nIter).map(r => r * treesPerIter)
    JObject(
      "gbtree_model_param" -> JObject(
        "num_trees" -> JString(trees.length.toString),
        "num_parallel_tree" -> JString(numParallelTree.toString)),
      "iteration_indptr" -> JArray(indptr.map(JInt(_): JValue).toList),
      "tree_info" -> JArray(treeInfo.map(JInt(_): JValue).toList),
      "trees" -> JArray(treeDocs.toList))
  }

  /** Assemble the full learner document around a gradient_booster. */
  /** Feature slots used by a categorical node anywhere in the forest
    * — re-exported as feature_type "c" so a stock loader sees the
    * same type vector it wrote.
    */
  private def categoricalSlots(trees: Array[SparseTree]): Set[Int] =
    trees.iterator.filter(_.hasCategorical).flatMap { t =>
      t.feature.indices.iterator
        .filter(i => t.cats(i) != null)
        .map(t.feature)
    }.toSet

  private def learnerDoc(
      model: GraftBoostModel,
      gradientBooster: JObject,
      numClass: Int,
      baseMargin: Double,
      objective: JObject,
      statsAbsent: Boolean,
      dartRescaled: Boolean = false,
      categoricalFeatures: Set[Int] = Set.empty
  ): String = {
    val objectiveName = (objective \ "name").extract[String]
    val attrs = List(
      "graft.base_margin" -> (JString(baseMargin.toString): JValue),
      "graft.divergences" -> (JString(DivergenceNote): JValue)) ++
      (if (statsAbsent)
        // pre-gain source artifact: the zeros in loss_changes are
        // NOT real gains — ingest must restore "stats unavailable"
        List("graft.stats_absent" -> (JString("1"): JValue)) else Nil) ++
      (if (dartRescaled)
        List("graft.dart_rescaled" -> (JString("1"): JValue)) else Nil)
    val numFeature = model.featureCols.length
    val doc = JObject(
      "learner" -> JObject(
        "attributes" -> JObject(attrs),
        "feature_names" -> JArray(
          model.featureCols.map(JString(_): JValue).toList),
        "feature_types" -> JArray(
          model.featureCols.indices.map(i =>
            JString(if (categoricalFeatures(i)) "c" else "float")
              : JValue).toList),
        "gradient_booster" -> gradientBooster,
        "learner_model_param" -> JObject(
          "base_score" -> JString(
            toBaseScore(objectiveName, baseMargin).toString),
          "boost_from_average" -> JString("1"),
          "num_class" -> JString(
            (if (numClass <= 1) 0 else numClass).toString),
          "num_feature" -> JString(numFeature.toString),
          "num_target" -> JString("1")),
        "objective" -> objective),
      "version" -> JArray(List(JInt(2), JInt(0), JInt(0))))
    JsonMethods.compact(JsonMethods.render(doc))
  }

  private def doubles(v: JValue): Array[Double] = v match {
    case JArray(xs) => xs.map {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case JLong(l) => l.toDouble
      case JDecimal(d) => d.toDouble
      case other => throw new IllegalArgumentException(s"not a number: $other")
    }.toArray
    case other => throw new IllegalArgumentException(s"not an array: $other")
  }

  private def ints(v: JValue): Array[Int] = doubles(v).map(_.toInt)

  /** default_left appears as 0/1 ints (current xgboost) or booleans
    * (older 1.x serializers; xgboost's own loader accepts both).
    */
  private def bools(v: JValue): Array[Boolean] = v match {
    case JArray(xs) => xs.map {
      case JBool(b) => b
      case JInt(i) => i != 0
      case JLong(l) => l != 0
      case JDouble(d) => d != 0.0
      case other => throw new IllegalArgumentException(s"not a flag: $other")
    }.toArray
    case other => throw new IllegalArgumentException(s"not an array: $other")
  }

  /** Ingest an XGBoost JSON model document into a scoreable
    * [[GraftBoostModel]]: `gbtree`/`dart` → native forest (single
    * target or [[MultiSparse.MultiSparseModel]] for `num_class` > 1),
    * `gblinear` → [[LinearBoost.LinearModel]]. Categorical
    * (partition) splits, `split_type` 1 (XGBoost 1.5+), ingest into
    * the native forest with stock set-membership routing (stored
    * category set → right child, invalid codes → left, NaN →
    * default branch) and survive re-export through the categories
    * arrays. Multi-target vector leaves are refused loudly — they
    * postdate the reference's entire API surface (requirements.txt
    * pins `xgboost <= 0.90`; vector leaves are 2.0+) and have no
    * single-value scoring semantics here. TreeSHAP/Saabas attribution
    * on categorical forests is refused loudly (the path-conditioning
    * walk is numeric-threshold only).
    */
  def importModel(json: String): GraftBoostModel = {
    val root = JsonMethods.parse(json)
    val learner = root \ "learner"
    val boosterName = (learner \ "gradient_booster" \ "name").extract[String]
    val lmp = learner \ "learner_model_param"
    val numClass = (lmp \ "num_class").extract[String].toInt
    val objective = (learner \ "objective" \ "name").extract[String]
    val featureNames = (learner \ "feature_names") match {
      case JArray(xs) if xs.nonEmpty => xs.map(_.extract[String])
      case _ =>
        val m = (lmp \ "num_feature").extract[String].toInt
        (0 until m).map(i => s"f$i")
    }
    require((lmp \ "num_target").extractOpt[String].forall(_.toInt <= 1),
      "multi-target (vector-leaf) models are not supported")
    // the presence of this attribute marks an own-engine export:
    // exact margin base AND base_weights already in serving scale
    val attrs = learner \ "attributes"
    val ownBase = (attrs \ "graft.base_margin").extractOpt[String]
    val statsAbsent = (attrs \ "graft.stats_absent").extractOpt[String]
      .contains("1")
    val base = ownBase.map(_.toDouble).getOrElse(
      fromBaseScore(objective, (lmp \ "base_score").extract[String].toDouble))

    boosterName match {
      case "gblinear" =>
        require(numClass <= 1,
          s"multi-group gblinear interchange not supported (num_class=$numClass)")
        val w = doubles(learner \ "gradient_booster" \ "model" \ "weights")
        require(w.length == featureNames.length + 1,
          s"gblinear weights length ${w.length} != num_feature+1 " +
          s"(${featureNames.length + 1}) — single-group layout expected")
        // [w_0..w_{n-1}, bias]; own exports keep (base, bias) split
        // exactly via the attribute, stock files land the whole
        // intercept in bias with base = inverse-link(base_score)
        val lin = new LinearModel(
          org.apache.spark.ml.util.Identifiable.randomUID("xgbjson"),
          w.init, w.last, base, objective)
        // stock gblinear serving scores a missing (NaN) entry as zero
        // contribution (the sparse dot product simply skips it) — map
        // NaN → 0.0 at assemble time so ingested documents score NaN
        // rows exactly like stock instead of erroring in the assembler
        GraftBoostModel(lin, featureNames, objective,
          if (objective == "binary:logistic") 2 else 0,
          Map.empty,
          imputation = Some((Double.NaN, featureNames.map(_ -> 0.0).toMap)),
          missingStrategy = "impute")

      case "gbtree" | "dart" =>
        val gbModel = learner \ "gradient_booster" \ "model"
        val (modelObj, weightDrop) =
          if (boosterName == "dart")
            (gbModel \ "gbtree",
              Some(doubles(gbModel \ "weight_drop")))
          else (gbModel, None)
        val treesPerRound =
          (modelObj \ "gbtree_model_param" \ "num_parallel_tree")
            .extractOpt[String].map(_.toInt).getOrElse(1)
        val treeDocs = (modelObj \ "trees") match {
          case JArray(ts) => ts
          case _ => throw new IllegalArgumentException("no trees in document")
        }
        // length check BEFORE indexing per tree — a short weight_drop
        // must fail naming the mismatch, not with an index error
        weightDrop.foreach(wd => require(wd.length == treeDocs.length,
          s"weight_drop length ${wd.length} != num_trees ${treeDocs.length}"))
        val trees = treeDocs.zipWithIndex.map { case (tj, ti) =>
          parseTree(tj, ownFile = ownBase.isDefined,
            statsAbsent = statsAbsent,
            dropWeight = weightDrop.map(_(ti)).getOrElse(1.0))
        }.toArray
        // rebuild the get_score statistics from per-node loss_changes
        // + sum_hessian (every internal node: one split of its
        // feature, its gain, its hessian mass) — unavailable only
        // when the exporting side marked its gains absent
        val stats =
          if (statsAbsent || trees.exists(_.gain.isEmpty)) ImportanceAcc.empty
          else {
            val acc = ImportanceAcc(featureNames.length)
            trees.foreach { t =>
              var i = 0
              while (i < t.feature.length) {
                if (t.feature(i) >= 0)
                  acc.record(t.feature(i), t.gain(i), t.cover(i))
                i += 1
              }
            }
            acc
          }
        if (numClass > 1) {
          val info = (modelObj \ "tree_info") match {
            case JArray(xs) if xs.nonEmpty => ints(JArray(xs))
            // round-major default: tree i belongs to class i mod K
            case _ => Array.tabulate(trees.length)(_ % numClass)
          }
          val mm = new MultiSparseModel(
            org.apache.spark.ml.util.Identifiable.randomUID("xgbjson"),
            trees, info, numClass, base, objective, stats,
            dartFolded = boosterName == "dart")
          GraftBoostModel(mm, featureNames, objective, numClass,
            Map.empty, imputation = None, missingStrategy = "native")
        } else {
          // a dart document's prefix margins never correspond to a
          // training-time round (XGBoost forbids ntree_limit there);
          // ingest conservatively inherits the refusal
          val dartRescaled = boosterName == "dart"
          val gSum = stats.gain.sum
          val importances =
            if (gSum > 0) stats.gain.map(_ / gSum)
            else new Array[Double](featureNames.length)
          val sm = new SparseModel(
            org.apache.spark.ml.util.Identifiable.randomUID("xgbjson"),
            trees, base, objective, importances, stats,
            treesPerRound = treesPerRound, dartRescaled = dartRescaled)
          GraftBoostModel(sm, featureNames, objective,
            if (objective == "binary:logistic") 2 else 0,
            Map.empty, imputation = None, missingStrategy = "native")
        }

      case other => throw new IllegalArgumentException(
        s"unknown booster '$other' (gbtree, dart, gblinear)")
    }
  }

  /** Parse one tree document into the array form. `dropWeight` folds
    * a dart drop weight into the leaf outputs (1.0 = plain gbtree);
    * `ownFile` keeps base_weights untouched (bit-exact round trips),
    * stock files rebuild internal values as cover-weighted subtree
    * means of the (weighted) leaf outputs — the Saabas expectation.
    */
  private def parseTree(
      tj: JValue,
      ownFile: Boolean,
      statsAbsent: Boolean,
      dropWeight: Double
  ): SparseTree = {
    val left = ints(tj \ "left_children")
    val right = ints(tj \ "right_children")
    val cond = doubles(tj \ "split_conditions")
    val idx = ints(tj \ "split_indices")
    val dl = bools(tj \ "default_left")
    // categorical (partition) splits, split_type=1 (XGBoost 1.5+):
    // the four categories arrays give each categorical node its
    // RIGHT-branch category set (stock Decision: in set → right)
    val splitType = (tj \ "split_type") match {
      case JArray(_) => ints(tj \ "split_type")
      case _ => null
    }
    val cats: Array[Array[Int]] =
      if (splitType == null || !splitType.exists(_ != 0)) null
      else {
        val catVals = ints(tj \ "categories")
        val catNodes = ints(tj \ "categories_nodes")
        val catSegs = ints(tj \ "categories_segments")
        val catSizes = ints(tj \ "categories_sizes")
        require(catNodes.length == catSegs.length &&
          catNodes.length == catSizes.length,
          s"categorical metadata arrays disagree: ${catNodes.length} nodes, " +
          s"${catSegs.length} segments, ${catSizes.length} sizes")
        val arr = new Array[Array[Int]](left.length)
        var k = 0
        while (k < catNodes.length) {
          val node = catNodes(k)
          require(node >= 0 && node < left.length && splitType(node) == 1,
            s"categories_nodes[$k] = $node is not a categorical node")
          require(catSegs(k) >= 0 && catSizes(k) > 0 &&
            catSegs(k) + catSizes(k) <= catVals.length,
            s"categories segment [$k] out of bounds")
          arr(node) = java.util.Arrays.copyOfRange(
            catVals, catSegs(k), catSegs(k) + catSizes(k))
          k += 1
        }
        var i = 0
        while (i < left.length) {
          require((splitType(i) == 1) == (arr(i) != null),
            s"node $i: split_type ${splitType(i)} without a matching " +
            "categories entry")
          i += 1
        }
        arr
      }
    val hess = (tj \ "sum_hessian") match {
      case JArray(_) => doubles(tj \ "sum_hessian")
      case _ => Array.fill(left.length)(0.0)
    }
    val n = left.length
    val feature = new Array[Int](n)
    val thresh = new Array[Double](n)
    // INTERNAL node values come from base_weights — the Saabas
    // path decomposition walks them; exports here write the full
    // value array there, so own-file round trips are exact. Leaf
    // OUTPUTS override from split_conditions (the schema's slot
    // for the eta-scaled leaf value), times any dart drop weight.
    val value = (tj \ "base_weights") match {
      case JArray(_) => doubles(tj \ "base_weights")
      case _ => new Array[Double](n)
    }
    var i = 0
    while (i < n) {
      if (left(i) < 0) { // leaf: value rides in split_conditions
        feature(i) = -1
        value(i) = cond(i) * dropWeight
      } else if (cats != null && cats(i) != null) {
        // categorical node: routing is set membership; the threshold
        // slot is poisoned so a numeric walk of it can never pass
        // silently
        feature(i) = idx(i)
        thresh(i) = Double.NaN
      } else {
        feature(i) = idx(i)
        // XGBoost's strict `x < c` left == our `x <= nextDown(c)`
        thresh(i) = math.nextDown(cond(i))
      }
      i += 1
    }
    val lossChanges =
      if (statsAbsent) Array.emptyDoubleArray
      else (tj \ "loss_changes") match {
        case JArray(_) => doubles(tj \ "loss_changes")
        case _ => Array.emptyDoubleArray
      }
    // STOCK files: base_weights are raw Newton weights WITHOUT the
    // learning rate, while leaf outputs (split_conditions) carry
    // it — mixing the two breaks the Saabas additivity identity.
    // Recompute internal values as cover-weighted subtree means of
    // the actual leaf outputs (the Saabas expectation), restoring
    // additivity by construction. Own exports keep their
    // base_weights untouched — bit-exact round trips.
    if (!ownFile) {
      def fill(i: Int): Double =
        if (feature(i) < 0) value(i)
        else {
          val lv = fill(left(i)); val rv = fill(right(i))
          val cl = hess(left(i)); val cr = hess(right(i))
          value(i) =
            if (cl + cr > 0) (cl * lv + cr * rv) / (cl + cr)
            else 0.5 * (lv + rv)
          value(i)
        }
      fill(0)
    }
    // leaf children stay -1 — both the schema's and the grower's
    // convention (leafOf never dereferences children at a leaf)
    SparseTree(feature, thresh, left, right, dl, value, hess, lossChanges,
      cats)
  }
}
