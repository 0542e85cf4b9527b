package graft.ml

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.Model
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sparsity-aware gradient boosting — XGBoost's learned default
  * direction for missing values (Chen & Guestrin 2016 §3.3, the
  * `missing=` semantics the reference forwards at `core.py:370-377`
  * and pins in `test_core.py:365-382`). MLlib rejects NaN features
  * outright, so the impute/sentinel strategies of [[GraftBoost]] were
  * approximations; this is the real mechanism, as a from-scratch
  * histogram tree learner, grown by the one boosting round loop
  * ([[train]]) for every [[Objective]]:
  *
  *  1. per feature, split candidates are the exact (maxBins−1)
  *     quantiles of the NON-missing values — XGBoost's global
  *     approximate proposal (§3.2); missing rows never enter the
  *     candidate sketch, exactly as in the paper,
  *  2. trees grow breadth-first; each level is ONE distributed pass
  *     aggregating per (frontier-node, feature, bin) gradient/hessian
  *     histograms plus a dedicated per-feature MISSING bin — the
  *     histograms are model-sized (nodes × features × bins), only
  *     they cross the network,
  *  3. split search runs on the driver over the aggregated
  *     histograms: each feature is scanned left-to-right with the
  *     missing mass on the right, and again with it on the left —
  *     the enumerate-both-directions loop of §3.3 — maximizing
  *     gain = ½[G_L²/(H_L+λ) + G_R²/(H_R+λ) − G²/(H+λ)], and the
  *     winning direction is stored on the node as its default branch,
  *  4. leaf weights are Newton steps −G/(H+λ) (η-scaled), and
  *     `min_child_weight` bounds the child HESSIAN sums — XGBoost's
  *     actual semantics, where the MLlib-backed paths could only
  *     approximate it with minInstancesPerNode.
  *
  * Objectives: `binary:logistic` (g = p − y, h = p(1−p)),
  * `reg:squarederror` (g = f − y, h = 1), the log-link deviance
  * pair `reg:gamma` / `reg:tweedie` (XGBoost's insurance-severity
  * objectives; exact Newton g/h on the margin scale, predictions on
  * the response scale e^f), `count:poisson` (log link, g = μ − y,
  * h = μ, μ = e^f) and `reg:quantileerror` (pinball loss, g = 1{y ≤ f}
  * − α, h = 1, plus the α-quantile leaf rule of [[quantileLeaves]]).
  * binary/squared are reached under `missingStrategy = "native"`; the
  * other four ALWAYS train here — MLlib GBT has none of those losses.
  * The same loop grows `multi:softprob` (K trees per round on the
  * softmax gradients, [[Objective.Softprob]]) and `rank:pairwise` /
  * `rank:ndcg` (per-group pair gradients, [[Objective.Rank]]).
  *
  * Poisson and quantile moved here from their own per-round MLlib
  * regression-tree loops, and their fitted values moved with them:
  * splits are chosen by the Newton gain above with
  * λ-regularized leaves (Poisson leaves are −G/(H+λ)), and
  * `min_child_weight` bounds a hessian sum, not a row count. The old
  * Poisson loop clipped each row's working response (y − μ)/μ to ±2;
  * that clip is gone, and `maxDeltaStep` is the leaf guard instead.
  * Both objectives now also honour gamma, monotone and interaction
  * constraints, colsample, dart, lossguide, `num_parallel_tree`, NaN
  * routing and `base_margin`, like every objective of this loop.
  *
  * Determinism: histogram partials merge through [[PartialFold]] —
  * partition-index-ordered folds whose addition tree is a pure
  * function of the partition count (driver fold at modest P,
  * distributed block folds + ordered block-sum fold above
  * PartialFold.BlockSize, so a 10k-core fit ships the driver block
  * sums instead of an O(P) histogram funnel); split ties
  * break by (feature, bin, missing-right-first) enumeration order,
  * and the `subsample` path reuses the content-hash Bernoulli filter
  * ([[GraftBoost.roundSample]]) — two trains on the same frame are
  * bit-identical. Histogram sizes are unchanged either way.
  */
object SparseBoost {

  /** Driver-heap budget for lossguide's retained sibling-subtraction
    * blocks: at most this many live candidate leaves hold their own
    * histogram block (perNode×3 doubles each); candidates beyond it
    * re-scan both children on expansion. 512 × a 100-feature/32-bin
    * block ≈ 40 MB — bounded regardless of maxLeaves/maxDepth.
    */
  private val MaxRetainedBlocks = 512

  /** Array-flattened tree with per-split default directions. Node i
    * is a leaf iff `feature(i) < 0` (then `value(i)` is its η-scaled
    * weight — the Newton step, or the quantile leaf rule's value);
    * otherwise x(feature) ≤ thresh goes left, and a
    * MISSING x(feature) follows `defaultLeft(i)` — the learned
    * default branch of Chen & Guestrin §3.3.
    */
  final case class SparseTree(
      feature: Array[Int],
      thresh: Array[Double],
      left: Array[Int],
      right: Array[Int],
      defaultLeft: Array[Boolean],
      value: Array[Double],
      /** Per-node hessian sum (XGBoost's `cover`) — the conditional
        * probability weights TreeSHAP needs ([[TreeShap]]) and the
        * cover importance's numerator. Root slot holds the full
        * training mass.
        */
      cover: Array[Double],
      /** Per-node split gain (XGBoost's `loss_changes` /
        * trees_to_dataframe `Gain`): the chosen split's loss
        * reduction at each internal node, 0 at leaves. Empty =
        * unknown (models persisted before this field or ingested
        * from documents without loss_changes) — consumers must treat
        * an empty array as "stats unavailable", not as zeros.
        */
      gain: Array[Double] = Array.emptyDoubleArray,
      /** Per-node category sets for ingested categorical splits
        * (`split_type` = 1, XGBoost 1.5+ documents). null (every
        * TRAINED forest — the training loop is numeric-threshold
        * only) = no categorical nodes; otherwise slot i is null for
        * numeric/leaf nodes and the RIGHT-branch category set at a
        * categorical node — stock `common::Decision` semantics:
        * category ∈ set → right child, anything else (including
        * negative/invalid codes) → left, NaN → default branch. The
        * node's `thresh` slot is NaN and must never be consulted.
        */
      cats: Array[Array[Int]] = null
  ) extends Serializable {
    def hasCategorical: Boolean = cats != null

    def leafOf(v: Vector): Int = {
      var i = 0
      while (feature(i) >= 0) {
        val x = v(feature(i))
        i = if (java.lang.Double.isNaN(x)) { if (defaultLeft(i)) left(i) else right(i) }
          else if (cats != null && cats(i) != null) {
            // set-membership routing (stored set = right-goers);
            // AsCat truncation + InvalidCat→left, like stock
            if (x >= 0.0 && contains(cats(i), x.toInt)) right(i) else left(i)
          }
          else if (x <= thresh(i)) left(i) else right(i)
      }
      i
    }
    def valueOf(v: Vector): Double = value(leafOf(v))

    private def contains(set: Array[Int], c: Int): Boolean = {
      var k = 0
      while (k < set.length) { if (set(k) == c) return true; k += 1 }
      false
    }
  }

  /** The trained booster: margin(x) = base + Σ_r value_r(x) (leaf
    * values are already η-scaled, XGBoost's stored-weight convention).
    * `transform` appends `prediction` (class id for binary:logistic —
    * margin > 0 ⇔ p > ½ — or the margin itself for regression).
    * Scoring broadcasts the model-sized tree arrays once — one
    * map-side pass, no shuffle.
    */
  final class SparseModel(
      override val uid: String,
      val trees: Array[SparseTree],
      val base: Double,
      val objective: String,
      /** Per-feature total split gain, normalized to sum 1 — XGBoost's
        * `total_gain` importance, accumulated during training.
        */
      val importances: Array[Double],
      /** Raw per-feature split statistics accumulated during training
        * — the inputs to every XGBoost `get_score` importance type.
        */
      val stats: ImportanceAcc = ImportanceAcc.empty,
      /** Per-round split statistics (training-time only; not
        * persisted) — lets [[truncate]] report EXACT importance stats
        * for the kept prefix instead of the full fit's.
        */
      val statsPerRound: Option[Seq[ImportanceAcc]] = None,
      /** Trees per boosting round (`num_parallel_tree`): round r owns
        * trees [r·T, (r+1)·T). Round-indexed consumers (truncation,
        * staged evaluation) group by this — a mid-round cut would
        * silently keep a fraction of a 1/T-scaled average.
        */
      val treesPerRound: Int = 1,
      /** True when any DART dropout round actually fired (k > 0):
        * earlier trees' stored leaf values were then rescaled by
        * k/(k+1) IN PLACE, so per-round tree prefixes no longer
        * correspond to any training-time round margin. Round-indexed
        * consumers (truncate, staged evaluation) fail loudly on such
        * forests — the same reason XGBoost forbids `ntree_limit`
        * with `booster="dart"`.
        */
      val dartRescaled: Boolean = false
  ) extends Model[SparseModel] {

    override def copy(extra: ParamMap): SparseModel =
      new SparseModel(uid, trees, base, objective, importances, stats,
        statsPerRound, treesPerRound, dartRescaled)

    /** Number of boosting rounds in the forest. */
    def numRounds: Int = trees.length / treesPerRound

    /** XGBoost `get_score(importance_type=…)` parity over the raw
      * split statistics: `weight` (split count), `total_gain`,
      * `total_cover` (hessian mass of split nodes), and the per-split
      * averages `gain` = total_gain/weight, `cover` =
      * total_cover/weight (0 where a feature never splits). Refuses
      * loudly when statistics are unavailable (a stats-absent XgbJson
      * ingest) instead of handing back zero-length arrays — same
      * contract as the multiclass scorer.
      */
    def importanceByType(importanceType: String): Array[Double] = {
      require(stats.gain.nonEmpty,
        "importance statistics unavailable on this model (ingested " +
        "from a document without usable loss_changes, or exported " +
        "from a pre-gain artifact with the stats-absent marker)")
      stats.byType(importanceType)
    }

    override def transformSchema(schema: StructType): StructType =
      schema.add(StructField("prediction", DoubleType))

    def marginOf(v: Vector): Double = {
      var f = base
      var r = 0
      while (r < trees.length) { f += trees(r).valueOf(v); r += 1 }
      f
    }

    def probOf(v: Vector): Double = 1.0 / (1.0 + math.exp(-marginOf(v)))

    /** Response-scale value of a margin — the objective's inverse
      * link. count:* covers both a trained `count:poisson` forest and
      * any XgbJson-ingested count document; without that arm either
      * would silently emit log-rates instead of counts.
      */
    private[ml] def link(f: Double): Double = objective match {
      case "binary:logistic" => if (f > 0.0) 1.0 else 0.0
      case "reg:gamma" | "reg:tweedie" => math.exp(f)
      case o if o.startsWith("count:") => math.exp(f)
      case _ => f
    }

    def predictOne(v: Vector): Double = link(marginOf(v))

    /** Scoring with a per-row `base_margin` — stock XGBoost
      * semantics: the supplied margin REPLACES the stored base, it is
      * not added on top (`DMatrix(base_margin=...)` makes base_score
      * unused).
      */
    def marginWithBase(v: Vector, baseMargin: Double): Double =
      marginOf(v) - base + baseMargin

    def predictOne(v: Vector, baseMargin: Double): Double =
      link(marginWithBase(v, baseMargin))

    override def transform(ds: Dataset[_]): DataFrame = {
      val bc = ds.sparkSession.sparkContext.broadcast(this)
      val pU = udf((v: Vector) => bc.value.predictOne(v))
      ds.withColumn("prediction", pU(col("features")))
    }

    /** Truncated copy keeping the first `rounds` BOOSTING ROUNDS —
      * i.e. `rounds · treesPerRound` trees, so a parallel-tree forest
      * is always cut at a round boundary (a mid-round cut would keep
      * a fraction of a 1/T-scaled average and silently shrink every
      * prediction). When per-round stats are available (freshly
      * trained model, or one reloaded by [[ModelIO]] which persists
      * them) the importance statistics are recomputed EXACTLY for
      * the kept prefix — `importanceByType("weight")` always equals
      * the kept forest's split count; only an artifact saved by a
      * pre-round-stats build keeps the aggregate as-trained.
      */
    def truncate(rounds: Int): SparseModel = {
      require(!dartRescaled,
        "cannot truncate a DART forest whose dropout rounds fired: " +
        "the k/(k+1) leaf rescales mutate earlier rounds' trees, so " +
        "no tree prefix reproduces a training-time round margin " +
        "(XGBoost likewise forbids ntree_limit with booster='dart')")
      require(rounds >= 1 && rounds <= numRounds,
        s"rounds must be in [1, $numRounds], got $rounds")
      val kept = statsPerRound.map(_.take(rounds))
      val newStats = kept match {
        case Some(rs) => ImportanceAcc.sum(rs, stats.gain.length)
        case None => stats
      }
      val gSum = newStats.gain.sum
      val newImp =
        if (kept.isDefined)
          (if (gSum > 0) newStats.gain.map(_ / gSum) else newStats.gain.clone())
        else importances
      new SparseModel(uid, trees.take(rounds * treesPerRound), base,
        objective, newImp, newStats, kept, treesPerRound)
    }
  }

  /** Per-feature split-statistic accumulators filled during tree
    * growth: split count, total gain, and total hessian cover of the
    * split nodes — one slot per feature.
    */
  final case class ImportanceAcc(
      gain: Array[Double],
      weight: Array[Double],
      cover: Array[Double]
  ) {
    private[ml] def record(feature: Int, splitGain: Double, nodeCover: Double): Unit = {
      gain(feature) += splitGain
      weight(feature) += 1.0
      cover(feature) += nodeCover
    }

    /** XGBoost `get_score(importance_type=…)` dispatch over these
      * accumulators — ONE implementation for every model type
      * (single-target and multiclass get_score parity can't drift).
      */
    private[ml] def byType(importanceType: String): Array[Double] = {
      def avg(tot: Array[Double]): Array[Double] =
        tot.zip(weight).map { case (t, w) => if (w > 0) t / w else 0.0 }
      importanceType match {
        case "weight"      => weight.clone()
        case "total_gain"  => gain.clone()
        case "total_cover" => cover.clone()
        case "gain"        => avg(gain)
        case "cover"       => avg(cover)
        case t => throw new IllegalArgumentException(
          s"unknown importance type '$t' (weight, gain, cover, " +
          "total_gain, total_cover)")
      }
    }
  }

  object ImportanceAcc {
    def apply(numFeat: Int): ImportanceAcc = ImportanceAcc(
      new Array[Double](numFeat), new Array[Double](numFeat),
      new Array[Double](numFeat))
    val empty: ImportanceAcc = apply(0)

    /** Element-wise sum (fresh arrays). */
    def sum(accs: Seq[ImportanceAcc], numFeat: Int): ImportanceAcc = {
      val out = apply(numFeat)
      accs.foreach { a =>
        var j = 0
        while (j < numFeat) {
          out.gain(j) += a.gain(j)
          out.weight(j) += a.weight(j)
          out.cover(j) += a.cover(j)
          j += 1
        }
      }
      out
    }
  }

  /** Region index of x among sorted candidate edges: the count of
    * edges strictly below x, so region(x) ≤ b ⇔ x ≤ edges(b).
    */
  private def regionOf(x: Double, edges: Array[Double]): Int = {
    var lo = 0
    var hi = edges.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (edges(mid) < x) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Per-feature quantile split candidates over NON-missing values
    * (maxBins−1 interior quantiles, deduplicated). "exact" computes
    * true order statistics (deterministic); "approx" routes through
    * Spark's `percentile_approx` — a mergeable Greenwald-Khanna
    * sketch whose per-partition memory is bounded by the accuracy
    * parameter, the proposal that survives a 100 TB scan where the
    * exact form's per-value count map cannot. The histogram passes
    * downstream are identical either way.
    *
    * "exact" assumes NARROW feature vectors: it posexplodes every row
    * and shuffles numFeat × rows values to group them by feature, so
    * its shuffle grows linearly with the feature count (every native
    * fit pays it once, Poisson and quantile included). Wide vectors
    * (embeddings, hashed text) should take `splitProposal = "approx"`,
    * a single-row aggregate with no shuffle of the values.
    */
  private[ml] def proposeEdges(
      data: DataFrame,
      numFeat: Int,
      maxBins: Int,
      mode: String = "exact"
  ): Array[Array[Double]] = {
    import org.apache.spark.ml.functions.vector_to_array
    val probs = (1 until maxBins).map(_.toDouble / maxBins).toArray
    val arr = vector_to_array(col("features"))
    if (mode == "approx") {
      val aggs = (0 until numFeat).map { j =>
        val x = element_at(arr, j + 1)
        // GK accuracy ~10× the bin resolution: sketch error well
        // under one candidate spacing
        percentile_approx(when(!isnan(x), x), lit(probs),
          lit(math.max(10000, maxBins * 100))).as(s"f$j")
      }
      val row = data.select(aggs: _*).head()
      (0 until numFeat).map { j =>
        if (row.isNullAt(j)) Array.empty[Double]
        else row.getSeq[Double](j).distinct.sorted.toArray
      }.toArray
    } else {
      // exact order statistics are a function of each feature's value
      // MULTISET alone, so the per-feature aggregates can be grouped by
      // feature index and merged in parallel: the single-task final
      // merge of the ungrouped spelling (every partition's value buffer
      // concatenated and sorted on ONE reducer — measured 1.5-2.7 s of
      // serial wall per fit at bench scale) becomes numFeat independent
      // group merges. Values are identical bit-for-bit.
      val exploded = data
        .select(posexplode(arr).as(Seq("j", "x")))
        .filter(!isnan(col("x")))
      // explicit keyed repartition: AQE would coalesce this small
      // shuffle back to ONE post-shuffle partition and re-serialize
      // the merges; ×4 oversampling keeps hash collisions from
      // stacking several features on one task
      val parts = math.max(1, math.min(
        data.sparkSession.sparkContext.defaultParallelism, numFeat * 4))
      val got = exploded.repartition(parts, col("j"))
        .groupBy(col("j"))
        .agg(percentile(col("x"), lit(probs)).as("qs"))
        .collect()
      val out = Array.fill(numFeat)(Array.empty[Double])
      got.foreach { r =>
        if (!r.isNullAt(1))
          out(r.getInt(0)) = r.getSeq[Double](1).distinct.sorted.toArray
      }
      out
    }
  }

  private final case class Split(
      feature: Int, bin: Int, defaultLeft: Boolean, gain: Double,
      gl: Double, hl: Double, cl: Double, gr: Double, hr: Double, cr: Double)

  /** Grow one tree on (features, g, h) rows. One distributed
    * histogram pass per level; all split math on the driver over
    * model-sized aggregates. Returns the tree plus its per-feature
    * gain totals (importance accumulation).
    *
    * @param allowed per-feature mask — the round's `colsample_bytree`
    *                subset; masked features never enter split search
    * @param constraints per-feature monotone direction (+1/−1/0).
    *                Enforced XGBoost-style: a candidate split on a
    *                constrained feature is REJECTED when its child
    *                Newton weights violate the ordering, and accepted
    *                splits propagate [lower, upper] value bounds to
    *                their children (midpoint fencing), with every
    *                leaf clamped into its node's bounds — monotone in
    *                the MODEL, not merely per split.
    */
  private[ml] def growTree(
      fit: DataFrame,
      edges: Array[Array[Double]],
      params: GraftBoost.BoostParams,
      acc: ImportanceAcc,
      allowed: Array[Boolean],
      constraints: Array[Int],
      maskSeed: Long = 0L
  ): SparseTree = {
    val g = new Grower(fit, edges, params, acc, allowed, constraints, maskSeed)
    try {
      if (params.growPolicy == "lossguide") g.growLossguide() else g.growDepthwise()
    } finally g.release()
  }

  /** Shared tree-growth machinery: the distributed histogram pass,
    * the driver-side both-directions split search (missing-bin
    * enumeration, monotone fences, interaction groups), and split
    * application. Both growth policies drive it:
    *
    *  - depthwise ([[Grower.growDepthwise]], XGBoost's default
    *    `grow_policy`): one histogram pass per LEVEL covering the
    *    whole frontier — the fewest distributed passes per tree,
    *  - lossguide ([[Grower.growLossguide]], XGBoost/LightGBM
    *    best-first): always expand the highest-gain leaf until
    *    `max_leaves`; one histogram pass per EXPANSION covering the
    *    two freshly created children. Deeper lopsided trees from the
    *    same leaf budget — the policy that wins on targets whose
    *    structure is concentrated in one region.
    *
    * Both policies use the classic histogram-subtraction trick
    * (XGBoost's hist-method sibling derivation): each pass
    * accumulates only the SMALLER sibling of every fresh split and
    * derives the larger block as parent − smaller, halving per-pass
    * accumulation work and collected partial size.
    *
    * Split semantics are policy-independent by construction — one
    * `search` implementation — so a lossguide tree with an
    * unreachable leaf budget reproduces depthwise's split SET (pinned
    * in SparseBoostSpec).
    */
  private final class Grower(
      fit: DataFrame,
      edges: Array[Array[Double]],
      params: GraftBoost.BoostParams,
      acc: ImportanceAcc,
      allowed: Array[Boolean],
      constraints: Array[Int],
      maskSeed: Long
  ) {
    private val numFeat = edges.length
    private val lambda = params.lambdaL2
    private val minH = params.minChildWeight.toDouble
    private val minGain = math.max(params.gammaMinSplitLoss, 0.0) + 1e-12
    private val maxDelta = params.maxDeltaStep

    // per-node histogram block layout: feature j occupies
    // edges(j).length + 2 slots (regions 0..m_j plus one MISSING bin)
    private val featOff: Array[Int] = {
      val fo = new Array[Int](numFeat + 1)
      var j = 0
      while (j < numFeat) { fo(j + 1) = fo(j) + edges(j).length + 2; j += 1 }
      fo
    }
    private val perNode = featOff(numFeat)

    // growable tree arrays; children appended as they are created
    private val feature = ArrayBuffer(-1)
    private val thresh = ArrayBuffer(0.0)
    private val left = ArrayBuffer(-1)
    private val right = ArrayBuffer(-1)
    private val defLeft = ArrayBuffer(false)
    private val value = ArrayBuffer(0.0)
    private val cover = ArrayBuffer(0.0)
    private val nodeGain = ArrayBuffer(0.0)

    private val rows = fit.select(col("features"), col("g").cast("double"),
      col("h").cast("double"))

    /** The SAME rows as a cached, already-deserialized typed RDD: a
      * tree's growth reads the frame once per level (or lossguide
      * expansion), and without this every pass re-decodes the whole
      * frame's InternalRow→Vector — the dominant FIXED cost of a pass
      * at bench scale (the per-row histogram arithmetic itself is
      * microseconds). Identical partition layout and within-partition
      * order as the source, so the driver's partition-index partial
      * fold — and its bit-stable float sums — are unchanged. Released
      * per tree by [[release]] (the next round's g/h differ).
      */
    private lazy val rowsTyped: org.apache.spark.rdd.RDD[(Vector, Double, Double)] = {
      val s = fit.sparkSession
      import s.implicits._
      rows.as[(Vector, Double, Double)].rdd
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

    private[ml] def release(): Unit = rowsTyped.unpersist(false)

    // interaction groups as index sets; empty = unconstrained
    private val interGroups: Array[Set[Int]] =
      params.interactionConstraints.map(_.toSet).toArray

    private def clamp(w: Double, lo: Double, hi: Double): Double =
      math.min(math.max(w, lo), hi)
    // raw Newton step with XGBoost's max_delta_step cap (pre-η)
    private def newton(g: Double, h: Double): Double = {
      val w = -g / (h + lambda)
      if (maxDelta > 0.0) clamp(w, -maxDelta, maxDelta) else w
    }
    private def leafValue(g: Double, h: Double, lo: Double, hi: Double): Double =
      params.eta * clamp(newton(g, h), lo, hi)
    // every node carries its η-scaled Newton estimate from creation:
    // internal nodes keep it (the per-node expected value the Saabas
    // attribution differences — Contributions.scala), leaves get
    // overwritten with the fence-clamped final weight. Scoring only
    // ever reads leaf slots, so routing is unaffected.
    private def nodeEstimate(g: Double, h: Double): Double =
      params.eta * newton(g, h)

    private def fmix(a: Long, b: Long): Long =
      GraftBoost.fmix64(
        maskSeed ^ (a * 0x9e3779b97f4a7c15L) ^ (b * 0xc2b2ae3d27d4eb4fL))

    /** ⌈frac·|parent|⌉ features hash-ranked out of the parent set —
      * the cumulative colsample chain (bynode ⊂ bylevel ⊂ bytree),
      * deterministic per (maskSeed, salt).
      */
    private def sampleMask(parent: Array[Boolean], frac: Double, salt: Long): Array[Boolean] =
      if (frac >= 1.0) parent
      else {
        val idx = parent.indices.filter(parent).toArray
        val k = math.max(1, math.ceil(frac * idx.length).toInt)
        val m = new Array[Boolean](parent.length)
        idx.sortBy(j => fmix(salt, j)).take(k).foreach(j => m(j) = true)
        m
      }

    private val levelMasks = scala.collection.mutable.Map.empty[Int, Array[Boolean]]
    /** The node's effective feature set: bytree ∩ bylevel(depth) ∩
      * bynode(node).
      */
    private def allowedFor(stat: NodeStat): Array[Boolean] = {
      val lvl =
        if (params.colsampleBylevel >= 1.0) allowed
        else levelMasks.getOrElseUpdate(stat.depth,
          sampleMask(allowed, params.colsampleBylevel, 7L + stat.depth))
      if (params.colsampleBynode >= 1.0) lvl
      else sampleMask(lvl, params.colsampleBynode, 7919L + stat.node)
    }

    /** Root (G, H, count) totals DERIVED from the root histogram —
      * every row lands in exactly one bin of feature 0 (regions
      * 0..m₀ plus the missing bin), so summing that feature's slots
      * reproduces the totals without the separate aggregation pass
      * the old rootStat ran (one full frame scan per TREE saved).
      * The bins are summed in ascending order — deterministic; the
      * totals differ from a row-order SQL sum only in float
      * association, the same tolerance every non-root node's stats
      * (split-derived, i.e. histogram-derived) already carry.
      * Also seeds the root node's estimate and cover.
      */
    def rootStatFrom(rootHist: Array[Double]): NodeStat = {
      val m0 = edges(0).length
      var gT = 0.0
      var hT = 0.0
      var cT = 0.0
      var b = 0
      while (b <= m0 + 1) {
        val o = (featOff(0) + b) * 3
        gT += rootHist(o)
        hT += rootHist(o + 1)
        cT += rootHist(o + 2)
        b += 1
      }
      value(0) = nodeEstimate(gT, hT)
      cover(0) = hT
      NodeStat(0, gT, hT, cT,
        Double.NegativeInfinity, Double.PositiveInfinity)
    }

    /** One histogram pass for the given node → slot map: per
      * (node, feature, bin) gradient/hessian/count triples, rows
      * routed through the CURRENT tree, partials folded on the driver
      * in partition-index order (deterministic float sum). Rows whose
      * landing node is not in `slotOf` (finalized leaves, or — under
      * lossguide — leaves queued but not being expanded) are skipped.
      */
    def histPass(slotOf: Map[Int, Int]): Array[Double] = {
      // immutable snapshots for the task closure (small, model-sized)
      val fSnap = feature.toArray
      val tSnap = thresh.toArray
      val lSnap = left.toArray
      val rSnap = right.toArray
      val dSnap = defLeft.toArray
      val edgesL = edges
      val featOffL = featOff
      val perNodeL = perNode
      val slotL = slotOf
      val size = slotOf.size * perNode * 3

      val partialsRdd = rowsTyped.mapPartitions { it =>
        val acc = new Array[Double](size)
        it.foreach { case (v, g, h) =>
          var i = 0
          while (fSnap(i) >= 0) {
            val x = v(fSnap(i))
            i = if (java.lang.Double.isNaN(x)) { if (dSnap(i)) lSnap(i) else rSnap(i) }
              else if (x <= tSnap(i)) lSnap(i) else rSnap(i)
          }
          slotL.get(i) match {
            case Some(s) =>
              val base = s * perNodeL
              var jj = 0
              while (jj < edgesL.length) {
                val x = v(jj)
                val bin =
                  if (java.lang.Double.isNaN(x)) edgesL(jj).length + 1
                  else regionOf(x, edgesL(jj))
                val idx = (base + featOffL(jj) + bin) * 3
                acc(idx) += g
                acc(idx + 1) += h
                acc(idx + 2) += 1.0
                jj += 1
              }
            case None => // not a target of this pass
          }
        }
        Iterator.single(acc)
      }
      // deterministic partition-index-ordered merge; above
      // PartialFold.BlockSize partitions the per-block folds run
      // distributed and the driver only sees block sums (the
      // cluster-scale shape — see PartialFold scaladoc)
      PartialFold.sum(partialsRdd, size)
    }

    /** Best split of one node from its histogram block (slot base
      * offset in `hist`): both-directions missing enumeration,
      * hessian-sum min_child_weight, monotone ordering inside the
      * node's value fence, interaction-group filtering.
      */
    def search(hist: Array[Double], slotBase: Int, stat: NodeStat): Option[Split] = {
      val NodeStat(_, gTot, hTot, cTot, vLo, vHi, path, _) = stat
      val nodeAllowed = allowedFor(stat)
      // XGBoost interaction rule: j is usable here iff one group
      // holds j and the whole root path
      def interOk(j: Int): Boolean =
        interGroups.isEmpty ||
          interGroups.exists(g => g.contains(j) && path.subsetOf(g))
      val parentScore = gTot * gTot / (hTot + lambda)
      // ordering check for a monotone-constrained candidate: clamp
      // the child Newton weights into the node's fence first (the
      // values the children can actually take), then compare
      def monoOk(c: Int, gl: Double, hl: Double, gr: Double, hr: Double): Boolean =
        c == 0 || {
          val wl = clamp(newton(gl, hl), vLo, vHi)
          val wr = clamp(newton(gr, hr), vLo, vHi)
          if (c > 0) wl <= wr else wl >= wr
        }
      var best: Option[Split] = None
      var jj = 0
      while (jj < numFeat) {
        val m = edges(jj).length
        if (m > 0 && nodeAllowed(jj) && interOk(jj)) {
          val cj = constraints(jj)
          val off = (slotBase + featOff(jj)) * 3
          val missIdx = off + (m + 1) * 3
          val gMiss = hist(missIdx)
          val hMiss = hist(missIdx + 1)
          val cMiss = hist(missIdx + 2)
          var gl = 0.0; var hl = 0.0; var cl = 0.0
          var b = 0
          while (b < m) {
            gl += hist(off + b * 3)
            hl += hist(off + b * 3 + 1)
            cl += hist(off + b * 3 + 2)
            // missing → right (enumerated first; ties keep it)
            var glx = gl; var hlx = hl; var clx = cl
            var grx = gTot - glx; var hrx = hTot - hlx; var crx = cTot - clx
            if (hlx >= minH && hrx >= minH && clx >= 1 && crx >= 1 &&
                monoOk(cj, glx, hlx, grx, hrx)) {
              val gain = 0.5 * (glx * glx / (hlx + lambda) +
                grx * grx / (hrx + lambda) - parentScore)
              if (gain > best.map(_.gain).getOrElse(minGain))
                best = Some(Split(jj, b, defaultLeft = false, gain,
                  glx, hlx, clx, grx, hrx, crx))
            }
            // missing → left
            glx = gl + gMiss; hlx = hl + hMiss; clx = cl + cMiss
            grx = gTot - glx; hrx = hTot - hlx; crx = cTot - clx
            if (cMiss > 0 && hlx >= minH && hrx >= minH && clx >= 1 && crx >= 1 &&
                monoOk(cj, glx, hlx, grx, hrx)) {
              val gain = 0.5 * (glx * glx / (hlx + lambda) +
                grx * grx / (hrx + lambda) - parentScore)
              if (gain > best.map(_.gain).getOrElse(minGain))
                best = Some(Split(jj, b, defaultLeft = true, gain,
                  glx, hlx, clx, grx, hrx, crx))
            }
            b += 1
          }
        }
        jj += 1
      }
      best
    }

    /** Materialize a chosen split: append both children, rewrite the
      * node as internal, record importance statistics, propagate the
      * monotone value fence (midpoint fencing — XGBoost's monotone
      * propagation) and the interaction path. Returns the child stats.
      */
    def applySplit(stat: NodeStat, s: Split): (NodeStat, NodeStat) = {
      val NodeStat(node, _, hTot, _, vLo, vHi, path, depth) = stat
      acc.record(s.feature, s.gain, hTot)
      val li = feature.length
      feature += -1; thresh += 0.0; left += -1; right += -1
      defLeft += false; value += nodeEstimate(s.gl, s.hl); cover += s.hl
      nodeGain += 0.0
      val ri = feature.length
      feature += -1; thresh += 0.0; left += -1; right += -1
      defLeft += false; value += nodeEstimate(s.gr, s.hr); cover += s.hr
      nodeGain += 0.0
      nodeGain(node) = s.gain
      feature(node) = s.feature
      thresh(node) = edges(s.feature)(s.bin)
      left(node) = li
      right(node) = ri
      defLeft(node) = s.defaultLeft
      // midpoint fencing: a constrained split pins the boundary value
      // both subtrees must respect; unconstrained splits inherit
      val cj = constraints(s.feature)
      val (loL, hiL, loR, hiR) =
        if (cj == 0) (vLo, vHi, vLo, vHi)
        else {
          val wl = clamp(newton(s.gl, s.hl), vLo, vHi)
          val wr = clamp(newton(s.gr, s.hr), vLo, vHi)
          val mid = 0.5 * (wl + wr)
          if (cj > 0) (vLo, mid, mid, vHi) else (mid, vHi, vLo, mid)
        }
      val childPath = path + s.feature
      (NodeStat(li, s.gl, s.hl, s.cl, loL, hiL, childPath, depth + 1),
        NodeStat(ri, s.gr, s.hr, s.cr, loR, hiR, childPath, depth + 1))
    }

    def finalizeLeaf(stat: NodeStat): Unit =
      value(stat.node) = leafValue(stat.g, stat.h, stat.lo, stat.hi)

    /** One node's (g, h, count) block copied out of a multi-slot
      * histogram — the unit the sibling-subtraction trick operates
      * on (perNode × 3 doubles; model-sized).
      */
    private def blockOf(hist: Array[Double], slot: Int): Array[Double] = {
      val out = new Array[Double](perNode * 3)
      System.arraycopy(hist, slot * perNode * 3, out, 0, perNode * 3)
      out
    }

    /** parent − child, element-wise — XGBoost's histogram-subtraction
      * trick: only the SMALLER sibling of each split is ever scanned;
      * the larger one's histogram is derived here. Counts subtract
      * exactly (whole numbers in doubles); g/h differ from a direct
      * accumulation only in float rounding order, the same tolerance
      * XGBoost's own hist method accepts.
      */
    private def minus(parent: Array[Double], child: Array[Double]): Array[Double] = {
      val out = new Array[Double](parent.length)
      var i = 0
      while (i < parent.length) { out(i) = parent(i) - child(i); i += 1 }
      out
    }

    private def result(): SparseTree =
      SparseTree(feature.toArray, thresh.toArray, left.toArray, right.toArray,
        defLeft.toArray, value.toArray, cover.toArray, nodeGain.toArray)

    /** Breadth-first growth: one histogram pass per level — but each
      * pass accumulates only the SMALLER sibling of every fresh split
      * (XGBoost's hist-method sibling trick); the larger sibling's
      * block is derived as parent − smaller. Halves per-level
      * accumulation work and the collected partial size; rows landing
      * in unscanned siblings still route through the tree but skip
      * the per-feature binning loop.
      */
    def growDepthwise(): SparseTree = {
      val rootHist = histPass(Map(0 -> 0))
      val root = rootStatFrom(rootHist)
      if (params.maxDepth <= 0) { finalizeLeaf(root); return result() }
      // fresh sibling pairs awaiting search, with their parent's block
      var pending = scala.Vector.empty[(NodeStat, NodeStat, Array[Double])]
      search(rootHist, 0, root) match {
        case Some(s) =>
          val (l, r) = applySplit(root, s)
          pending = scala.Vector((l, r, blockOf(rootHist, 0)))
        case None => finalizeLeaf(root)
      }
      var depth = 1
      while (depth < params.maxDepth && pending.nonEmpty) {
        val scans = pending.map { case (l, r, _) => if (l.cnt <= r.cnt) l else r }
        val slotOf = scans.map(_.node).zipWithIndex.toMap
        val hist = histPass(slotOf)
        val next = scala.Vector.newBuilder[(NodeStat, NodeStat, Array[Double])]
        pending.zip(scans).foreach { case ((l, r, pBlock), small) =>
          val smallBlock = blockOf(hist, slotOf(small.node))
          val bigBlock = minus(pBlock, smallBlock)
          // keep the level's left-to-right node order so tree-array
          // layout (and thus spec pins) match the pre-trick grower
          Seq((l, if (small.node == l.node) smallBlock else bigBlock),
              (r, if (small.node == r.node) smallBlock else bigBlock))
            .foreach { case (stat, block) =>
              search(block, 0, stat) match {
                case Some(s) =>
                  val (cl, cr) = applySplit(stat, s)
                  next += ((cl, cr, block))
                case None => finalizeLeaf(stat)
              }
            }
        }
        pending = next.result()
        depth += 1
      }
      // depth budget exhausted: finalize the remaining frontier
      pending.foreach { case (l, r, _) => finalizeLeaf(l); finalizeLeaf(r) }
      result()
    }

    /** Best-first growth (`grow_policy = "lossguide"`): a max-heap of
      * evaluated candidate splits ordered by gain (ties broken by
      * node id — deterministic), expanded one at a time until
      * `max_leaves` (0 = unbounded) or no candidate clears the gain /
      * min_child_weight / depth bars. Each expansion costs one
      * histogram pass over the two new children.
      */
    def growLossguide(): SparseTree = {
      val maxLeaves = if (params.maxLeaves > 0) params.maxLeaves else Int.MaxValue
      // (candidate split, node stat, the node's own histogram block —
      // null once the retained-block budget is exhausted); max by
      // (gain, LOWER node id)
      val ord = Ordering.by[(Split, NodeStat, Array[Double]), (Double, Int)] {
        case (s, st, _) => (s.gain, -st.node)
      }
      val queue = scala.collection.mutable.PriorityQueue.empty(ord)
      // leaves not in the queue are final; track live leaf count
      var leaves = 1

      // Sibling subtraction needs each candidate leaf's OWN block
      // retained until it is expanded or finalized. The retained set
      // is capped at MaxRetainedBlocks × perNode×3 doubles so an
      // unbounded (maxLeaves = 0) deep-and-wide growth can never pin
      // unbounded driver heap: candidates enqueued past the cap hold
      // null and their expansion re-scans both children (correct,
      // one extra accumulation — and every realistic tree stays
      // entirely on the subtraction path, which keeps unbounded
      // lossguide bit-identical to depthwise, spec-pinned).
      def retained(hist: Array[Double], slot: Int): Array[Double] =
        if (queue.size >= MaxRetainedBlocks) null
        else if (slot == 0 && hist.length == perNode * 3) hist
        else blockOf(hist, slot)

      def enqueueOrFinalize(
          stat: NodeStat, hist: Array[Double], slot: Int): Unit =
        if (stat.depth >= params.maxDepth) finalizeLeaf(stat)
        else search(hist, slot * perNode, stat) match {
          case Some(s) => queue.enqueue((s, stat, retained(hist, slot)))
          case None => finalizeLeaf(stat)
        }

      val rootHist = histPass(Map(0 -> 0))
      val root = rootStatFrom(rootHist)
      enqueueOrFinalize(root, rootHist, 0)
      while (leaves < maxLeaves && queue.nonEmpty) {
        val (s, stat, pBlock) = queue.dequeue()
        val (l, r) = applySplit(stat, s)
        leaves += 1
        if (pBlock != null) {
          // sibling trick: scan the smaller child only
          val small = if (l.cnt <= r.cnt) l else r
          val smallBlock = histPass(Map(small.node -> 0))
          val bigBlock = minus(pBlock, smallBlock)
          enqueueOrFinalize(l,
            if (small.node == l.node) smallBlock else bigBlock, 0)
          enqueueOrFinalize(r,
            if (small.node == r.node) smallBlock else bigBlock, 0)
        } else {
          val hist = histPass(Map(l.node -> 0, r.node -> 1))
          enqueueOrFinalize(l, hist, 0)
          enqueueOrFinalize(r, hist, 1)
        }
      }
      // leaf budget reached: whatever stayed queued becomes a leaf
      queue.foreach { case (_, stat, _) => finalizeLeaf(stat) }
      result()
    }
  }

  /** Exact per-node totals, monotone value fence, root-path feature
    * set (interaction-constraint state) and depth, tracked on the
    * driver through tree growth.
    */
  private final case class NodeStat(
      node: Int, g: Double, h: Double, cnt: Double, lo: Double, hi: Double,
      path: Set[Int] = Set.empty, depth: Int = 0)

  /** `reg:quantileerror`'s leaf rule, run on each tree right after
    * [[growTree]]: every leaf is reset to η · the exact α-quantile of
    * the residuals y − f of the rows that land in it, over the same
    * round sample the tree was grown on (sklearn's QuantileLossFunction
    * `_update_terminal_region`; Friedman's TreeBoost line search). The
    * Newton values the grower wrote are discarded, so neither the
    * monotone value fence nor `maxDeltaStep` constrains these leaves.
    * Rows are routed by [[SparseTree.leafOf]], the scorer's own walk.
    *
    * The quantile is UNWEIGHTED: `percentile`'s frequency argument is
    * integral, so fractional instance weights cannot reach the order
    * statistic. Weights steer the split search only.
    *
    * The per-leaf value multiset is partition-order-free, so the
    * merges run one leaf per task; the explicit keyed repartition
    * stops AQE from coalescing this small shuffle back onto one
    * reducer (×4 oversampling against hash collisions, as in
    * [[proposeEdges]]).
    */
  private[ml] def quantileLeaves(
      tree: SparseTree, rows: DataFrame, resid: Column,
      alpha: Double, eta: Double): Unit = {
    val sc = rows.sparkSession.sparkContext
    val bc = sc.broadcast(tree)
    val leafU = udf((v: Vector) => bc.value.leafOf(v))
    val parts = math.max(1, math.min(sc.defaultParallelism,
      tree.feature.count(_ < 0) * 4))
    rows.withColumn("leaf", leafU(col("features")))
      .repartition(parts, col("leaf"))
      .groupBy(col("leaf"))
      .agg(percentile(resid, lit(alpha)))
      .collect()
      .foreach(r => tree.value(r.getInt(0)) = eta * r.getDouble(1))
  }

  /** What the round loop grew: the forest in growth order (round r,
    * channel k, parallel tree t at ((r−1)·K + k)·T + t − 1), the start
    * margin, the per-round split statistics and their sum, the
    * per-round train history and whether a DART round rescaled
    * earlier trees.
    */
  final case class Fit(
      trees: Array[SparseTree],
      base: Double,
      roundAccs: Seq[ImportanceAcc],
      stats: ImportanceAcc,
      history: Array[Double],
      dartRescaled: Boolean
  ) {
    /** The forest as a single-channel model. */
    def sparseModel(uid: String, params: GraftBoost.BoostParams): SparseModel = {
      val gSum = stats.gain.sum
      val imp = if (gSum > 0) stats.gain.map(_ / gSum) else stats.gain.clone()
      new SparseModel(uid, trees, base, params.objective, imp, stats,
        Some(roundAccs), params.numParallelTree, dartRescaled)
    }
  }

  /** The boosting round loop — the one `xgb.train` loop of the
    * reference (`core.py:164-321`), for every [[Objective]]. `data`
    * must carry `features` (vector; NaN marks missing), `label` and
    * the objective's [[Objective.inputs]]; an optional weight column
    * scales each row's (g, h) — XGBoost's instance weights.
    *
    * Round r grows T trees per channel k. Each tree draws its own
    * `subsample` rows ([[GraftBoost.roundSample]]), `colsample_bytree`
    * features and grower seed from its index idx = ((r−1)·K + k)·T + t:
    * (r−1)·T + t for one channel, (r−1)·K + k + 1 for softprob's
    * single trees. Softprob and ranking honour both samples too;
    * softprob's rows are drawn per tree, where its old loop drew them
    * once per round (no-ops at the default 1.0).
    *
    * `marginCol` names a per-row `base_margin` column (the reference
    * forwards it through `dmatrix_kwargs`, `core.py:143-147`): the
    * boosting recursion starts from that row's margin INSTEAD of the
    * scalar base — stock semantics, where a supplied base_margin makes
    * base_score unused. The classic boosting-continuation pattern:
    * score an existing model's margins, pass them here, and the new
    * trees continue that fit exactly. The returned base is still the
    * scalar one, so standalone scoring (no margin) falls back to
    * base_score — also stock behavior.
    */
  def train(
      data: DataFrame,
      params: GraftBoost.BoostParams,
      objective: Objective,
      weightCol: Option[String] = None,
      marginCol: Option[String] = None
  ): Fit = {
    val K = objective.channels
    require(params.booster != "dart" || objective.supportsDart,
      s"booster=\"dart\" drops trees from one per-row margin; " +
      s"${objective.name} has none")
    val keep = Seq(col("features"), col("label")) ++ weightCol.map(col) ++
      marginCol.map(c => GraftBoost.marginColumn(c).as("graft_bm")) ++
      objective.inputs
    val src = data.select(keep: _*)

    val sc = data.sparkSession.sparkContext
    sc.setJobDescription("boost: propose-edges")
    val numFeat = src.select(col("features")).head().getAs[Vector](0).size
    val edges = proposeEdges(src, numFeat, params.maxBins, params.splitProposal)
    if (params.monotoneConstraints.nonEmpty) {
      require(params.monotoneConstraints.length == numFeat,
        s"monotoneConstraints has ${params.monotoneConstraints.length} " +
        s"entries for $numFeat features")
      require(params.monotoneConstraints.forall(c => c >= -1 && c <= 1),
        "monotone constraints must be -1, 0 or +1")
    }
    params.interactionConstraints.foreach { g =>
      require(g.nonEmpty && g.forall(j => j >= 0 && j < numFeat),
        s"interaction group $g has indices outside [0, $numFeat)")
    }
    val constraints =
      if (params.monotoneConstraints.isEmpty) new Array[Int](numFeat)
      else params.monotoneConstraints.toArray
    require(params.colsampleBytree > 0.0 && params.colsampleBytree <= 1.0,
      s"colsampleBytree must be in (0, 1], got ${params.colsampleBytree}")

    /** XGBoost's `colsample_bytree`: the tree's feature subset is the
      * ⌈colsample·numFeat⌉ features with the smallest (feature, draw,
      * seed) mix hash — a deterministic sample that reshuffles per
      * tree with no RNG state (same discipline as
      * [[GraftBoost.roundSample]]).
      */
    def roundMask(round: Int): Array[Boolean] =
      if (params.colsampleBytree >= 1.0) Array.fill(numFeat)(true)
      else {
        val k = math.max(1, math.ceil(params.colsampleBytree * numFeat).toInt)
        // full murmur3 fmix64 — a single-multiply mixer left the
        // (round, feature) comparison dominated by round-independent
        // high bits, starving features across every round
        val ranked = (0 until numFeat).sortBy { j =>
          GraftBoost.fmix64(
            params.seed + 7919L * round + 0x9e3779b97f4a7c15L * (j + 1))
        }
        val mask = new Array[Boolean](numFeat)
        ranked.take(k).foreach(j => mask(j) = true)
        mask
      }

    val base =
      if (!params.baseScore.isNaN) params.baseScore
      else objective.defaultBase(src)
    // per-row base_margin REPLACES the scalar base as the boosting
    // start point (stock: base_score is unused when base_margin rides
    // the DMatrix)
    val start =
      if (marginCol.isDefined) col("graft_bm")
      else if (K == 1) lit(base)
      else array_repeat(lit(base), K)
    sc.setJobDescription("boost: init-margin")
    var cur = objective.initMargins(src, start).localCheckpoint()
    var scored = objective.scored(cur)

    val roundAccs = new ArrayBuffer[ImportanceAcc](params.numRound)
    val hist = new ArrayBuffer[Double](params.numRound)
    val forest = new ArrayBuffer[SparseTree](params.numRound * K)
    // set once a dropout round fires (k > 0): earlier leaves are then
    // mutated in place and the model must refuse round-indexed use
    var anyDartRescale = false
    // deterministic DART dropout draws: fmix64 of (seed, round, tree)
    // mapped to [0, 1) — reproducible with no RNG state
    def u01(a: Long, b: Long, c: Long): Double = {
      val h = GraftBoost.fmix64(params.seed ^ (a * 0x9e3779b97f4a7c15L) ^
        (b * 0xc2b2ae3d27d4eb4fL) ^ (c * 0xff51afd7ed558ccdL))
      (h >>> 11).toDouble / (1L << 53).toDouble
    }
    val T = params.numParallelTree
    val w = objective.instanceWeight(weightCol.map(col))

    for (r <- 1 to params.numRound) {
      // DART: pick the round's dropped tree set (empty = plain round)
      val dropped: Seq[Int] =
        if (params.booster != "dart" || forest.isEmpty ||
            (params.skipDrop > 0.0 && u01(2L, r, -1L) < params.skipDrop)) Nil
        else forest.indices.filter(i => u01(1L, r, i) < params.rateDrop)
      val k = dropped.length
      // s = the dropped trees' margin share; the round's gradients are
      // taken at f − s (the paper's "fit against the rest")
      val withS =
        if (k == 0) scored.withColumn("s", lit(0.0))
        else {
          val bcD = sc.broadcast(dropped.map(forest).toArray)
          val sU = udf((v: Vector) => {
            var acc = 0.0
            bcD.value.foreach(t => acc += t.valueOf(v))
            acc
          })
          // pin s: growTree re-reads the frame once per level (or per
          // lossguide expansion) and must not re-route the k dropped
          // trees on every pass
          scored.withColumn("s", sU(col("features"))).localCheckpoint()
        }
      val fm = col("f") - col("s")
      val fitFrame = objective.roundFrame(withS, r)
      val roundAcc = ImportanceAcc(numFeat)
      roundAccs += roundAcc
      // num_parallel_tree: T trees per channel on the SAME round
      // gradients, each with its own deterministic subsample/colsample
      // draws; leaf values pre-scaled by 1/T so the stored model stays
      // a plain sum and the round's update is the ensemble AVERAGE
      val newTrees = for (ch <- 0 until K; t <- 1 to T) yield {
        val idx = ((r - 1) * K + ch) * T + t
        sc.setJobDescription(s"boost: r$r grow")
        val sampled = GraftBoost.roundSample(fitFrame, params.subsample,
          params.seed + 197L * idx)
        val (g, h) = objective.gradients(ch, fm)
        val (gw, hw) = w match {
          case Some(wc) => (g * wc, h * wc)
          case None => (g, h)
        }
        val tree = growTree(
          sampled.withColumn("g", gw).withColumn("h", hw), edges, params,
          roundAcc, roundMask(idx), constraints, params.seed ^ (1337L * idx))
        objective.leafRule(tree, sampled, fm, params.eta, r)
        // "sum" (XGBoost compat) keeps member trees unscaled; the
        // default averages them (1/T pre-scale, see BoostParams)
        if (T > 1 && params.parallelTreeUpdate == "average") {
          var j = 0
          while (j < tree.value.length) { tree.value(j) /= T; j += 1 }
        }
        tree
      }

      // margin update f'_k = f_k + (Σ_t tree_{k,t} − s)/(k+1):
      // simultaneously adds the channel's trees (1/T-pre-scaled under
      // the default "average" mode; unscaled under "sum") and removes
      // the share the dropped trees lose to their k/(k+1) rescale
      // (k = 0 for every non-DART round — DART forbids T > 1, so Σ is
      // one tree whenever k > 0). localCheckpoint is eager, so the
      // in-place leaf rescale below cannot race the broadcast reads.
      val bc = sc.broadcast(newTrees.toArray)
      val kd = (k + 1).toDouble
      val margins =
        if (K == 1)
          udf((v: Vector, f: Double, sv: Double) =>
            f + channelStep(bc.value, 0, T, v, sv, kd))
            .apply(col("features"), col("f"), col("s"))
        else
          udf((v: Vector, f: Seq[Double]) =>
            Array.tabulate(K)(ch => f(ch) + channelStep(bc.value, ch, T, v, 0.0, kd)))
            .apply(col("features"), col("f"))
      sc.setJobDescription(s"boost: r$r margin-update")
      val next = withS.withColumn("f", margins)
        .drop(withS.columns.diff(cur.columns): _*).localCheckpoint()
      if (k > 0) {
        anyDartRescale = true
        val scaleOld = k.toDouble / kd
        dropped.foreach { i =>
          val t = forest(i)
          var j = 0
          while (j < t.value.length) { t.value(j) *= scaleOld; j += 1 }
        }
        val t0 = newTrees.head
        var j = 0
        while (j < t0.value.length) { t0.value(j) /= kd; j += 1 }
      }
      forest ++= newTrees
      if (scored ne cur) scored.unpersist(false)
      cur = next
      sc.setJobDescription(s"boost: r$r loss")
      scored = objective.scored(cur)
      hist += objective.loss(scored)
    }
    if (scored ne cur) scored.unpersist(false)
    Fit(forest.toArray, base, roundAccs.toSeq,
      ImportanceAcc.sum(roundAccs.toSeq, numFeat), hist.toArray, anyDartRescale)
  }

  /** Channel `ch`'s share of a round's margin step at `v`: its T trees
    * (stored channel-major) less the dropped share `s`, over k + 1.
    */
  private def channelStep(trees: Array[SparseTree], ch: Int, T: Int,
      v: Vector, s: Double, kd: Double): Double = {
    var acc = -s
    var i = ch * T
    while (i < (ch + 1) * T) { acc += trees(i).valueOf(v); i += 1 }
    acc / kd
  }
}
