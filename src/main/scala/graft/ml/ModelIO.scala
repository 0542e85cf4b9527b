package graft.ml

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.ml.util.MLWritable
import org.apache.spark.sql.SparkSession

import GraftBoost.GraftBoostModel

/** Whole-model persistence for [[GraftBoost.GraftBoostModel]] — the
  * model SINK of SURVEY §2.1, extended beyond the reference (whose
  * models are in-memory only, `core.py:255-264`) so a reloaded model
  * scores identically: featureCols, objective, numClasses, the
  * missing-marker imputation statistics, and the eval history are all
  * saved alongside the model.
  *
  * Layout: `<path>/model/` (one JSON of model-sized arrays for the
  * native and linear boosters; MLlib's own writer for the random
  * forest) plus `<path>/graft_meta.json` (one small JSON written
  * through the Hadoop FileSystem API, so the sink works on any cluster
  * filesystem, not just local disk). Artifacts of the MLlib GBT and
  * one-vs-rest models earlier builds saved fail to load by class name.
  */
object ModelIO {

  private case class Meta(
      modelClass: String,
      featureCols: Seq[String],
      objective: String,
      numClasses: Int,
      missingStrategy: String,
      imputationMarker: Option[Double],
      imputationMeans: Map[String, Double],
      evalsResult: Map[String, Map[String, Array[Double]]],
      calibrationA: Seq[Double] = Seq.empty,
      calibrationB: Seq[Double] = Seq.empty,
      // documented behavioral deviations from the reference engine,
      // stamped on the artifact so a loaded model STATES how it was
      // trained instead of relying on out-of-band docs (VERDICT r4 §8)
      divergences: Seq[String] = Seq.empty,
      // the imputation MARKER is NaN (ingested gblinear's NaN → 0.0
      // stock-serving map, or a fit with missing = Some(NaN) under any
      // strategy). NaN itself is not valid JSON, so the marker rides
      // as this flag; the replacement map persists normally (finite)
      // except under "native", where it is rebuilt as NaN pass-through.
      nanMissing: Boolean = false
  )

  /** Serialized form of a [[SparseBoost.SparseModel]] — model-sized
    * driver arrays stored as one JSON under `model/sparse.json`.
    * Thresholds/values are always finite; NaN never reaches the doc.
    */
  private case class SparseDoc(
      base: Double,
      objective: String,
      importances: Seq[Double],
      feature: Seq[Seq[Int]],
      thresh: Seq[Seq[Double]],
      left: Seq[Seq[Int]],
      right: Seq[Seq[Int]],
      defaultLeft: Seq[Seq[Boolean]],
      value: Seq[Seq[Double]],
      // per-node hessian cover (TreeSHAP weights) + the raw split
      // statistics behind every get_score importance type
      cover: Seq[Seq[Double]] = Seq.empty,
      impWeight: Seq[Double] = Seq.empty,
      impTotalGain: Seq[Double] = Seq.empty,
      impTotalCover: Seq[Double] = Seq.empty,
      treesPerRound: Int = 1,
      // per-ROUND split statistics (model-sized: rounds × features ×
      // 3 doubles) so truncate() on a reloaded model reports the
      // kept prefix's exact importances, same as a fresh fit
      roundWeight: Seq[Seq[Double]] = Seq.empty,
      roundGain: Seq[Seq[Double]] = Seq.empty,
      roundCover: Seq[Seq[Double]] = Seq.empty,
      dartRescaled: Boolean = false,
      // per-node split gain (loss_changes); absent in pre-gain
      // artifacts — loads as empty, meaning "stats unavailable"
      nodeGain: Seq[Seq[Double]] = Seq.empty,
      // per-node RIGHT-branch category sets (ingested categorical
      // splits): empty inner seq = numeric/leaf node; whole field
      // empty = no categorical nodes. Categorical nodes' thresh slots
      // are stored 0.0 (NaN is not valid JSON) and rebuilt NaN at load
      cats: Seq[Seq[Seq[Int]]] = Seq.empty
  )

  /** Serialized form of a [[MultiSparse.MultiSparseModel]] (trained
    * softprob or ingested multiclass forest) — model-sized driver
    * arrays under `model/multisparse.json`.
    */
  private case class MultiSparseDoc(
      base: Double,
      objective: String,
      numClasses: Int,
      treeInfo: Seq[Int],
      feature: Seq[Seq[Int]],
      thresh: Seq[Seq[Double]],
      left: Seq[Seq[Int]],
      right: Seq[Seq[Int]],
      defaultLeft: Seq[Seq[Boolean]],
      value: Seq[Seq[Double]],
      cover: Seq[Seq[Double]],
      impWeight: Seq[Double] = Seq.empty,
      impTotalGain: Seq[Double] = Seq.empty,
      impTotalCover: Seq[Double] = Seq.empty,
      // per-node split gain; empty = stats unavailable (never zeros)
      nodeGain: Seq[Seq[Double]] = Seq.empty,
      // dart provenance: drop weights folded into leaves at ingest
      dartFolded: Boolean = false,
      // categorical split sets — same encoding as SparseDoc.cats
      cats: Seq[Seq[Seq[Int]]] = Seq.empty
  )

  /** Serialized form of a [[LinearBoost.LinearModel]] — one small
    * JSON under `model/linear.json`.
    */
  private case class LinearDoc(
      base: Double,
      bias: Double,
      objective: String,
      weights: Seq[Double]
  )

  /** The divergence notes a given model carries (reference:
    * `core.py:370-377` sparse-skip missing; `core.py:580-590`
    * multi:softprob single-model multiclass).
    */
  private[ml] def divergenceNotes(model: GraftBoostModel): Seq[String] = {
    val missing = model.missingStrategy match {
      case "impute" =>
        Some("missing-marker: marker values are MEAN-IMPUTED per feature " +
          "(XGBoost routes missings along the learned default branch; " +
          "reference core.py:370-377). Scores differ on rows with missings.")
      case "sentinel" =>
        Some("missing-marker: marker values mapped to a learned out-of-range " +
          "sentinel so tree splits isolate them (XGBoost uses sparse default-" +
          "branch routing; reference core.py:370-377).")
      case "native" =>
        Some("missing-marker: NATIVE sparsity-aware routing — a default " +
          "direction is learned per split from the missing rows' gradient " +
          "mass (Chen & Guestrin 2016 §3.3); mechanism parity with XGBoost " +
          "sparse-skip (reference core.py:370-377), up to split-proposal " +
          "quantile details.")
      case _ => None
    }
    val multi =
      if (model.numClasses > 2) model.model match {
        case m: MultiSparse.MultiSparseModel if !m.objective.startsWith("multi:") =>
          Some("multiclass: one-vs-rest forest — K independent " +
            "binary:logistic channels grown together, probabilities the " +
            "softmax of the K margins (+ optional Platt calibration) — NOT " +
            "XGBoost multi:softprob joint gradients (core.py:580-590); " +
            "argmax classes agree, probability vectors are approximate.")
        case _: MultiSparse.MultiSparseModel =>
          Some("multiclass: single-model softprob forest — K trees per " +
            "round on shared multinomial softmax gradients with Newton " +
            "leaves and gains (core.py:580-590 mechanism parity up to " +
            "split-finding details), or an ingested XGBoost tree_info-" +
            "routed document; per-class margins summed over the trees, " +
            "softmax probabilities, default-branch NaN routing.")
        case _ =>
          Some("multiclass: random forest, per-class vote probabilities " +
            "— NOT XGBoost multi:softprob single-model probabilities " +
            "(core.py:580-590); argmax classes agree, probability " +
            "vectors are approximate.")
      }
      else None
    val gblinear = model.model match {
      case _: LinearBoost.LinearModel =>
        Some("gblinear shuffle selector: ONE per-fit permutation advanced " +
          "cyclically across rounds — INTENTIONAL divergence from " +
          "XGBoost's documented per-round reshuffle (updater.cc " +
          "shuffle before each update). Chosen for deterministic, " +
          "partition-independent coordinate coverage; ml_gblinear's " +
          "shuffle_coverage_ok gate pins THIS mechanism, so restoring " +
          "exact reference parity must update that gate in the same " +
          "change.")
      case _ => None
    }
    missing.toSeq ++ multi.toSeq ++ gblinear.toSeq
  }

  /** Doc-side encoding of [[SparseBoost.SparseTree]] categorical sets
    * and thresholds: NaN thresh slots (categorical nodes) become 0.0
    * in the JSON, the sets ride the `cats` field, and load rebuilds
    * both so a round trip scores identically.
    */
  private def encodeCats(
      trees: Array[SparseBoost.SparseTree]): Seq[Seq[Seq[Int]]] =
    if (!trees.exists(_.hasCategorical)) Seq.empty
    else trees.map { t =>
      t.feature.indices.map { i =>
        if (t.cats != null && t.cats(i) != null) t.cats(i).toSeq
        else Seq.empty[Int]
      }.toSeq
    }.toSeq

  private def encodeThresh(t: SparseBoost.SparseTree): Seq[Double] =
    t.thresh.toSeq.map(x => if (x.isNaN) 0.0 else x)

  /** Inverse of [[encodeCats]]/[[encodeThresh]] for one tree. */
  private def decodeTreeCats(
      docCats: Seq[Seq[Seq[Int]]], ti: Int,
      thresh: Array[Double]): (Array[Array[Int]], Array[Double]) =
    if (docCats.isEmpty) (null, thresh)
    else {
      val sets = docCats(ti).map(s =>
        if (s.isEmpty) null else s.toArray).toArray
      if (!sets.exists(_ != null)) (null, thresh)
      else {
        val fixed = thresh.clone()
        sets.indices.foreach(i => if (sets(i) != null) fixed(i) = Double.NaN)
        (sets, fixed)
      }
    }

  def save(spark: SparkSession, model: GraftBoostModel, path: String): Unit = {
    model.model match {
      // a sparse booster is model-sized driver arrays — one JSON
      case sm: SparseBoost.SparseModel =>
        import org.json4s.DefaultFormats
        import org.json4s.jackson.Serialization
        implicit val fmt: DefaultFormats.type = DefaultFormats
        val doc = SparseDoc(sm.base, sm.objective, sm.importances.toSeq,
          sm.trees.map(_.feature.toSeq).toSeq,
          sm.trees.map(encodeThresh).toSeq,
          sm.trees.map(_.left.toSeq).toSeq,
          sm.trees.map(_.right.toSeq).toSeq,
          sm.trees.map(_.defaultLeft.toSeq).toSeq,
          sm.trees.map(_.value.toSeq).toSeq,
          sm.trees.map(_.cover.toSeq).toSeq,
          sm.stats.weight.toSeq, sm.stats.gain.toSeq, sm.stats.cover.toSeq,
          sm.treesPerRound,
          sm.statsPerRound.map(_.map(_.weight.toSeq)).getOrElse(Seq.empty),
          sm.statsPerRound.map(_.map(_.gain.toSeq)).getOrElse(Seq.empty),
          sm.statsPerRound.map(_.map(_.cover.toSeq)).getOrElse(Seq.empty),
          sm.dartRescaled,
          nodeGain = sm.trees.map(_.gain.toSeq).toSeq,
          cats = encodeCats(sm.trees))
        val fsS = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val outS = fsS.create(new Path(path, "model/sparse.json"), true)
        try outS.write(Serialization.write(doc).getBytes("UTF-8"))
        finally outS.close()
      // a multiclass native forest (trained softprob or XgbJson
      // ingest) is model-sized driver arrays — one JSON
      case mm: MultiSparse.MultiSparseModel =>
        import org.json4s.DefaultFormats
        import org.json4s.jackson.Serialization
        implicit val fmt: DefaultFormats.type = DefaultFormats
        val doc = MultiSparseDoc(mm.base, mm.objective, mm.numClasses,
          mm.treeInfo.toSeq,
          mm.trees.map(_.feature.toSeq).toSeq,
          mm.trees.map(encodeThresh).toSeq,
          mm.trees.map(_.left.toSeq).toSeq,
          mm.trees.map(_.right.toSeq).toSeq,
          mm.trees.map(_.defaultLeft.toSeq).toSeq,
          mm.trees.map(_.value.toSeq).toSeq,
          mm.trees.map(_.cover.toSeq).toSeq,
          mm.stats.weight.toSeq, mm.stats.gain.toSeq, mm.stats.cover.toSeq,
          nodeGain = mm.trees.map(_.gain.toSeq).toSeq,
          dartFolded = mm.dartFolded,
          cats = encodeCats(mm.trees))
        val fsM = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val outM = fsM.create(new Path(path, "model/multisparse.json"), true)
        try outM.write(Serialization.write(doc).getBytes("UTF-8"))
        finally outM.close()
      // a linear booster is one weight vector — one JSON
      case lm: LinearBoost.LinearModel =>
        import org.json4s.DefaultFormats
        import org.json4s.jackson.Serialization
        implicit val fmt: DefaultFormats.type = DefaultFormats
        val doc = LinearDoc(lm.base, lm.bias, lm.objective, lm.weights.toSeq)
        val fsL = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val outL = fsL.create(new Path(path, "model/linear.json"), true)
        try outL.write(Serialization.write(doc).getBytes("UTF-8"))
        finally outL.close()
      case w: MLWritable =>
        w.write.overwrite().save(new Path(path, "model").toString)
      case m => throw new UnsupportedOperationException(s"not writable: ${m.getClass}")
    }

    import org.json4s.DefaultFormats
    import org.json4s.jackson.Serialization
    implicit val fmt: DefaultFormats.type = DefaultFormats
    val meta = Meta(
      model.model.getClass.getName,
      model.featureCols,
      model.objective,
      model.numClasses,
      model.missingStrategy,
      model.imputation.map(_._1).filterNot(_.isNaN),
      // native replacement values are NaN (not valid JSON) and fully
      // determined by the strategy — rebuilt at load from featureCols.
      // A NaN MARKER (nanMissing flag) keeps its replacement map: the
      // ingested-gblinear case carries zeros, a NaN-marker impute fit
      // carries its learned means — both finite, both JSON-safe
      if (model.missingStrategy == "native") Map.empty
      else model.imputation.map(_._2).getOrElse(Map.empty),
      model.evalsResult,
      model.calibration.map(_.map(_._1).toSeq).getOrElse(Seq.empty),
      model.calibration.map(_.map(_._2).toSeq).getOrElse(Seq.empty),
      divergences = divergenceNotes(model),
      nanMissing = model.imputation.exists(_._1.isNaN)
    )
    val json = Serialization.write(meta)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(path, "graft_meta.json"), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  def load(spark: SparkSession, path: String): GraftBoostModel = {
    import org.json4s.DefaultFormats
    import org.json4s.jackson.JsonMethods
    implicit val fmt: DefaultFormats.type = DefaultFormats
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(path, "graft_meta.json"))
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val meta = JsonMethods.parse(json).extract[Meta]

    val modelPath = new Path(path, "model").toString
    val inner = meta.modelClass match {
      case c if c.endsWith("RandomForestClassificationModel") =>
        RandomForestClassificationModel.load(modelPath)
      // the MLlib GBT and one-vs-rest models of earlier builds
      case c if c.startsWith("org.apache.spark.ml.") =>
        throw new UnsupportedOperationException(s"$path holds a $c, which this " +
          "build no longer trains or loads: every boosted objective fits on " +
          "the native round loop now — retrain the model and save it again")
      case c if c.endsWith("MultiSparseModel") =>
        // MUST precede the SparseModel case: that suffix matches too
        val inM = fs.open(new Path(path, "model/multisparse.json"))
        val jsonM = try scala.io.Source.fromInputStream(inM, "UTF-8").mkString
          finally inM.close()
        val doc = JsonMethods.parse(jsonM).extract[MultiSparseDoc]
        val trees = doc.feature.indices.map { i =>
          val (cats, thresh) =
            decodeTreeCats(doc.cats, i, doc.thresh(i).toArray)
          SparseBoost.SparseTree(doc.feature(i).toArray, thresh,
            doc.left(i).toArray, doc.right(i).toArray,
            doc.defaultLeft(i).toArray, doc.value(i).toArray,
            doc.cover(i).toArray,
            if (doc.nodeGain.isEmpty) Array.emptyDoubleArray
            else doc.nodeGain(i).toArray,
            cats)
        }.toArray
        new MultiSparse.MultiSparseModel("multisparse_loaded", trees,
          doc.treeInfo.toArray, doc.numClasses, doc.base, doc.objective,
          SparseBoost.ImportanceAcc(doc.impTotalGain.toArray,
            doc.impWeight.toArray, doc.impTotalCover.toArray),
          dartFolded = doc.dartFolded)
      case c if c.endsWith("SparseModel") =>
        val inS = fs.open(new Path(path, "model/sparse.json"))
        val jsonS = try scala.io.Source.fromInputStream(inS, "UTF-8").mkString
          finally inS.close()
        val doc = JsonMethods.parse(jsonS).extract[SparseDoc]
        // fail loudly on a pre-cover artifact: zero-filled cover would
        // make TreeSHAP silently emit NaN (0/0 child fractions) and
        // empty stats would crash importance indexing downstream
        require(doc.cover.nonEmpty && doc.impWeight.nonEmpty,
          s"$path/model/sparse.json predates per-node cover / split " +
          "statistics — re-save the model with this build")
        val trees = doc.feature.indices.map { i =>
          val (cats, thresh) =
            decodeTreeCats(doc.cats, i, doc.thresh(i).toArray)
          SparseBoost.SparseTree(doc.feature(i).toArray, thresh,
            doc.left(i).toArray, doc.right(i).toArray,
            doc.defaultLeft(i).toArray, doc.value(i).toArray,
            doc.cover(i).toArray,
            if (doc.nodeGain.isEmpty) Array.emptyDoubleArray
            else doc.nodeGain(i).toArray,
            cats)
        }.toArray
        val roundStats =
          if (doc.roundGain.isEmpty) None
          else Some(doc.roundGain.indices.map { r =>
            SparseBoost.ImportanceAcc(doc.roundGain(r).toArray,
              doc.roundWeight(r).toArray, doc.roundCover(r).toArray)
          }.toSeq)
        new SparseBoost.SparseModel("sparse_loaded", trees, doc.base,
          doc.objective, doc.importances.toArray,
          SparseBoost.ImportanceAcc(doc.impTotalGain.toArray,
            doc.impWeight.toArray, doc.impTotalCover.toArray),
          statsPerRound = roundStats,
          treesPerRound = doc.treesPerRound,
          dartRescaled = doc.dartRescaled)
      case c if c.endsWith("LinearModel") =>
        val inL = fs.open(new Path(path, "model/linear.json"))
        val jsonL = try scala.io.Source.fromInputStream(inL, "UTF-8").mkString
          finally inL.close()
        val doc = JsonMethods.parse(jsonL).extract[LinearDoc]
        new LinearBoost.LinearModel("gblinear_loaded", doc.weights.toArray,
          doc.bias, doc.base, doc.objective)
      case c => throw new UnsupportedOperationException(s"unknown model class: $c")
    }
    GraftBoostModel(
      inner,
      meta.featureCols,
      meta.objective,
      meta.numClasses,
      meta.evalsResult,
      if (meta.nanMissing)
        // NaN marker restored with its strategy-appropriate
        // replacements: native rebuilds the NaN pass-through map,
        // impute/sentinel keep the persisted (finite) values —
        // ingested-gblinear zeros and NaN-marker learned means alike
        Some((Double.NaN,
          if (meta.missingStrategy == "native")
            meta.featureCols.map(_ -> Double.NaN).toMap
          else meta.imputationMeans))
      else meta.imputationMarker.map { m =>
        if (meta.missingStrategy == "native")
          (m, meta.featureCols.map(_ -> Double.NaN).toMap)
        else (m, meta.imputationMeans)
      },
      meta.missingStrategy,
      if (meta.calibrationA.isEmpty) None
      else Some(meta.calibrationA.zip(meta.calibrationB).toArray)
    )
  }
}
