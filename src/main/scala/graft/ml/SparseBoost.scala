package graft.ml

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.spark.{GraftRddBridge, HashPartitioner}
import org.apache.spark.ml.Model
import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Sparsity-aware gradient boosting — XGBoost's learned default
  * direction for missing values (Chen & Guestrin 2016 §3.3, the
  * `missing=` semantics the reference forwards at `core.py:370-377`
  * and pins in `test_core.py:365-382`), as a from-scratch histogram
  * tree learner, grown by the one boosting round loop ([[train]]) for
  * every [[Objective]]; the impute/sentinel strategies of
  * [[GraftBoost]] are input transforms in front of it:
  *
  *  1. per feature, split candidates are the exact (maxBins−1)
  *     quantiles of the NON-missing values — XGBoost's global
  *     approximate proposal (§3.2); missing rows never enter the
  *     candidate sketch, exactly as in the paper,
  *  2. the training rows are binned ONCE per fit into persisted
  *     partition blocks ([[Block]]: bin codes, label, weight, margins,
  *     (g, h) and each row's node position per tree); trees grow
  *     breadth-first, and each level is ONE distributed pass that
  *     moves the positions down the last level's splits and
  *     aggregates per (tree, frontier-node, feature, bin)
  *     gradient/hessian histograms plus a dedicated per-feature
  *     MISSING bin, for all of a round's trees (K softprob classes ×
  *     `num_parallel_tree`) at once — the histograms are model-sized
  *     (nodes × features × bins), only they cross the network,
  *  3. split search runs on the driver over the aggregated
  *     histograms: each feature is scanned left-to-right with the
  *     missing mass on the right, and again with it on the left —
  *     the enumerate-both-directions loop of §3.3 — maximizing
  *     gain = ½[G_L²/(H_L+λ) + G_R²/(H_R+λ) − G²/(H+λ)], and the
  *     winning direction is stored on the node as its default branch,
  *  4. leaf weights are Newton steps −G/(H+λ) (η-scaled), and
  *     `min_child_weight` bounds the child HESSIAN sums — XGBoost's
  *     actual semantics.
  *
  * Objectives: `binary:logistic` (g = p − y, h = p(1−p)),
  * `reg:squarederror` (g = f − y, h = 1), `reg:absoluteerror`
  * (g = sign(f − y), h = 1, the median leaf rule), the log-link deviance
  * pair `reg:gamma` / `reg:tweedie` (XGBoost's insurance-severity
  * objectives; exact Newton g/h on the margin scale, predictions on
  * the response scale e^f), `count:poisson` (log link, g = μ − y,
  * h = μ, μ = e^f) and `reg:quantileerror` (pinball loss, g = 1{y ≤ f}
  * − α, h = 1, plus the α-quantile leaf rule of [[quantileLeaves]]).
  * The same loop grows `multi:softprob` (K trees per round on the
  * softmax gradients, [[Objective.Softprob]]), one-vs-rest multiclass
  * (K logistic channels, [[Objective.Ovr]]) and `rank:pairwise` /
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
  * and `subsample` is the content-hash Bernoulli draw
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

    /** The one routing rule, over a row's feature cells. */
    def leafOf(x: Array[Double]): Int = {
      var i = 0
      while (feature(i) >= 0) {
        val xi = x(feature(i))
        i = if (java.lang.Double.isNaN(xi)) { if (defaultLeft(i)) left(i) else right(i) }
          else if (cats != null && cats(i) != null) {
            // set-membership routing (stored set = right-goers);
            // AsCat truncation + InvalidCat→left, like stock
            if (xi >= 0.0 && contains(cats(i), xi.toInt)) right(i) else left(i)
          }
          else if (xi <= thresh(i)) left(i) else right(i)
      }
      i
    }
    def leafOf(v: Vector): Int = leafOf(v.toArray)
    def valueOf(x: Array[Double]): Double = value(leafOf(x))
    def valueOf(v: Vector): Double = valueOf(v.toArray)

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

    /** base + Σ tree values, summed in tree order. */
    def marginOf(x: Array[Double]): Double = {
      var f = base
      var r = 0
      while (r < trees.length) { f += trees(r).valueOf(x); r += 1 }
      f
    }
    def marginOf(v: Vector): Double = marginOf(v.toArray)

    /** binary:logistic's probability of a margin. */
    def probOfMargin(f: Double): Double = 1.0 / (1.0 + math.exp(-f))

    /** Response-scale value of a margin — the objective's inverse
      * link. count:* covers both a trained `count:poisson` forest and
      * any XgbJson-ingested count document; without that arm either
      * would silently emit log-rates instead of counts.
      */
    def link(f: Double): Double = objective match {
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
    def marginWithBase(x: Array[Double], baseMargin: Double): Double =
      marginOf(x) - base + baseMargin

    override def transform(ds: Dataset[_]): DataFrame =
      ds.withColumn("prediction", graft.plans.ForestScore.overVector(ds.sparkSession,
        this, "prediction", col("features"), None))

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
    * edges strictly below x, so region(x) ≤ b ⇔ x ≤ edges(b). A row's
    * bin code for feature j is this region, or edges(j).length + 1 (the
    * MISSING bin) when x is NaN — so a code routes exactly as the
    * stored threshold edges(j)(b) does.
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

  /** Spark SQL's exact `percentile(x, probs)` over the non-NaN values,
    * bit for bit: the distinct values with their frequencies in
    * ascending order, and for each probability p the position
    * (count − 1)·p, interpolated linearly between the values at its
    * floor and its ceiling. No values (SQL null) gives an empty result.
    */
  private[graft] def percentiles(values: Array[Double], probs: Array[Double]): Array[Double] = {
    val xs = values.filter(!_.isNaN)
    if (xs.isEmpty) return Array.emptyDoubleArray
    java.util.Arrays.sort(xs)
    // distinct values (equal as boxed doubles, like SQL's map keys)
    // and their cumulative counts
    val keys = new ArrayBuffer[Double]
    val cum = new ArrayBuffer[Long]
    var i = 0
    while (i < xs.length) {
      val bits = java.lang.Double.doubleToLongBits(xs(i))
      var j = i + 1
      while (j < xs.length && java.lang.Double.doubleToLongBits(xs(j)) == bits) j += 1
      keys += xs(i)
      cum += j.toLong
      i = j
    }
    // SQL sorts its map's keys stably with -0.0 equal to 0.0, so two
    // zeros keep the map's slot order
    val nz = keys.indexWhere(k => java.lang.Double.doubleToRawLongBits(k) == Long.MinValue)
    if (nz >= 0 && nz + 1 < keys.length && keys(nz + 1) == 0.0 && zeroFirst(keys.length)) {
      val before = if (nz == 0) 0L else cum(nz - 1)
      keys(nz) = 0.0
      keys(nz + 1) = -0.0
      cum(nz) = before + cum(nz + 1) - cum(nz)
    }
    val counts = cum.toArray
    // index of the first distinct value whose cumulative count reaches n
    def at(n: Long): Int = {
      val ix = java.util.Arrays.binarySearch(counts, n)
      if (ix < 0) -(ix + 1) else ix
    }
    val maxPosition = counts.last - 1
    probs.map { p =>
      val position = maxPosition * p
      val lower = math.floor(position).toLong
      val higher = math.ceil(position).toLong
      val lo = at(lower + 1)
      val hi = at(higher + 1)
      // keys compare as numbers there: -0.0 == 0.0
      if (higher == lower || keys(lo) == keys(hi)) keys(lo)
      else (higher - position) * keys(lo) + (position - lower) * keys(hi)
    }
  }

  /** Whether 0.0 sits before -0.0 in SQL `percentile`'s hash map of
    * `distinct` keys: Spark's OpenHashSet grows from 64 slots, doubling
    * past a 0.7 load, and homes a key at murmur3 of its hash code.
    */
  private def zeroFirst(distinct: Int): Boolean = {
    var cap = 64
    while (distinct > (0.7 * cap).toInt) cap *= 2
    def slot(x: Double): Int =
      com.google.common.hash.Hashing.murmur3_32_fixed()
        .hashInt(java.lang.Double.hashCode(x)).asInt() & (cap - 1)
    slot(0.0) < slot(-0.0)
  }

  /** [[percentiles]] per key, over chunks of values (many chunks may
    * share a key). A value multiset's percentiles do not depend on the
    * order it arrives in, so the keys merge in parallel: an explicit
    * keyed shuffle into ×4 oversampled partitions (capped at the
    * default parallelism) keeps hash collisions from stacking several
    * keys' merges on one task.
    */
  private[graft] def percentilesByKey[K: ClassTag](
      chunks: RDD[(K, Array[Double])], numKeys: Int,
      probs: Array[Double]): Map[K, Array[Double]] = {
    val parts = math.max(1,
      math.min(chunks.sparkContext.defaultParallelism, numKeys * 4))
    chunks.groupByKey(new HashPartitioner(parts))
      .map { case (k, cs) => (k, percentiles(Array.concat(cs.toSeq: _*), probs)) }
      .collect().toMap
  }

  /** Per-feature quantile split candidates over NON-missing values
    * (maxBins−1 interior quantiles, deduplicated). "exact" computes
    * true order statistics (deterministic, [[percentilesByKey]] over
    * each block's per-feature values); "approx" routes through
    * Spark's `percentile_approx` — a mergeable Greenwald-Khanna
    * sketch whose per-partition memory is bounded by the accuracy
    * parameter, the proposal that survives a 100 TB scan where the
    * exact form's per-value merge cannot. The histogram passes
    * downstream are identical either way. Validation rows propose no
    * edge: `data` holds the training rows only, and the exact form
    * skips the blocks' flagged rows.
    *
    * "exact" assumes NARROW feature vectors: it shuffles every
    * non-missing value once to group them by feature, so its shuffle
    * grows linearly with the feature count (every native fit pays it
    * once). Wide vectors (embeddings, hashed text) should take
    * `splitProposal = "approx"`, a single-row aggregate with no
    * shuffle of the values.
    */
  private[ml] def proposeEdges(
      data: DataFrame,
      blocks: RDD[Block],
      numFeat: Int,
      maxBins: Int,
      mode: String = "exact"
  ): Array[Array[Double]] = {
    val probs = (1 until maxBins).map(_.toDouble / maxBins).toArray
    if (mode == "approx") {
      import org.apache.spark.ml.functions.vector_to_array
      val arr = vector_to_array(col("features"))
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
      val got = percentilesByKey(blocks.flatMap { b =>
        val raw =
          if (b.valid == null) b.raw else b.raw.indices.filterNot(b.valid(_)).map(b.raw).toArray
        (0 until numFeat).iterator
          .map(j => (j, raw.map(_(j)).filter(!_.isNaN)))
          .filter(_._2.nonEmpty)
      }, numFeat, probs)
      Array.tabulate(numFeat) { j =>
        got.get(j).fold(Array.empty[Double])(_.toSeq.distinct.sorted.toArray)
      }
    }
  }

  /** One training partition's rows, held for the whole fit (XGBoost's
    * quantized DMatrix, MLlib's `TreePoint`): each row's raw feature
    * values (the subsample draw and DART's dropped share read them),
    * its per-feature bin codes (row-major n × numFeat, see
    * [[regionOf]]), label, instance weight (null: unweighted) and
    * group id (null unless ranking), and the boosting state — margins
    * `f` (n × K), the DART share `s` the next round drops (null:
    * none), the next round's instance-weighted (g, h) (n × K), the
    * grower's row order (null: block order; ranking sorts each
    * group), each of the round's C trees' node position (n × C; ~node
    * for a row outside that tree's row sample; null between rounds),
    * the loss partial of the pass that wrote `f` (then the validation
    * metric's, when the fit folds one) and the validation flags (null:
    * no validation rows in the fit). A validation row sits outside
    * every tree's sample, so it adds to no histogram and no quantile
    * leaf, but walks to its leaves in every margin update.
    *
    * Blocks are never mutated: every pass derives new blocks that
    * share the unchanged arrays, so an evicted block recomputed from
    * its lineage is the same block.
    */
  private[ml] final case class Block(
      raw: Array[Array[Double]],
      label: Array[Double],
      weight: Array[Double],
      group: Array[Long],
      codes: Array[Int],
      f: Array[Double],
      s: Array[Double],
      g: Array[Double],
      h: Array[Double],
      order: Array[Int],
      pos: Array[Int],
      loss: Array[Double],
      valid: Array[Boolean]
  ) {
    def n: Int = label.length
  }

  /** The per-fit constants every pass reads: K margin channels, T trees
    * per channel (C = K·T trees per round), each feature's missing bin
    * and its offset in a node's histogram block.
    */
  private final case class Shape(numFeat: Int, K: Int, T: Int,
      miss: Array[Int], featOff: Array[Int]) {
    def C: Int = K * T
    def perNode: Int = featOff(numFeat)
  }

  /** A tree's routing as of one pass: node i sends a row left iff its
    * code for `feature(i)` is ≤ `bin(i)` (x ≤ threshold), the missing
    * bin following `defaultLeft(i)`.
    */
  private final case class Route(feature: Array[Int], bin: Array[Int],
      defaultLeft: Array[Boolean], left: Array[Int], right: Array[Int]) {
    /** The leaf a row at node p reaches. */
    def walk(p0: Int, codes: Array[Int], rowOff: Int, miss: Array[Int]): Int = {
      var p = p0
      while (feature(p) >= 0) {
        val j = feature(p)
        val code = codes(rowOff + j)
        p = if (code == miss(j)) { if (defaultLeft(p)) left(p) else right(p) }
          else if (code <= bin(p)) left(p) else right(p)
      }
      p
    }
    /** Same, for a position that may carry the out-of-sample mark. */
    def move(p: Int, codes: Array[Int], rowOff: Int, miss: Array[Int]): Int =
      if (p >= 0) walk(p, codes, rowOff, miss) else ~walk(~p, codes, rowOff, miss)
  }

  /** A tree's row sample: the rows [[GraftBoost.roundSample]] keeps
    * at this seed (every row at keep ≥ 1000).
    */
  private final case class Draw(seed: Long, keep: Long) {
    def takes(raw: Array[Double], label: Double): Boolean =
      keep >= 1000 || GraftBoost.roundSample(raw, label, seed, keep)
  }
  private val AllRows = Draw(0L, 1000L)

  private final case class Split(
      feature: Int, bin: Int, defaultLeft: Boolean, gain: Double,
      gl: Double, hl: Double, cl: Double, gr: Double, hr: Double, cr: Double)

  /** One histogram pass — one Spark job — over the state: each row's
    * positions first move (`draws`: reset to the root, in or out of
    * each tree's row sample; otherwise `routes`: down the splits made
    * since the last pass), then every row that sits in a scanned node
    * (`slots`, node → slot per tree; null = none) adds its channel's
    * (g, h, 1) to that node's (feature, bin) cells, rows taken in the
    * block's order. Partials merge through [[PartialFold]] — partition-
    * index-ordered, so each cell is the same float sum every time.
    * Returns the new state (persisted; the caller unpersists the old
    * one) and each tree's histogram (slots × perNode × 3).
    */
  private def histPass(
      state: RDD[Block], shape: Shape, routes: Array[Route],
      draws: Array[Draw], slots: Array[Array[Int]]
  ): (RDD[Block], Array[Array[Double]]) = {
    val Shape(numFeat, k, t, miss, featOff) = shape
    val c = shape.C
    val next = state.map { b =>
      val pos = new Array[Int](b.n * c)
      var i = 0
      while (i < b.n) {
        var tr = 0
        while (tr < c) {
          val at = i * c + tr
          pos(at) =
            if (draws != null && draws(tr) != null)
              if ((b.valid == null || !b.valid(i)) && draws(tr).takes(b.raw(i), b.label(i))) 0
              else ~0
            else if (routes == null) b.pos(at)
            else routes(tr).move(b.pos(at), b.codes, i * numFeat, miss)
          tr += 1
        }
        i += 1
      }
      b.copy(pos = pos)
    }.persist(StorageLevel.MEMORY_AND_DISK)

    val cells = shape.perNode * 3
    val sizes = slots.map(sl => if (sl == null) 0 else (sl.max + 1) * cells)
    val offs = sizes.scanLeft(0)(_ + _)
    val partials = next.map { b =>
      val acc = new Array[Double](offs(c))
      var o = 0
      while (o < b.n) {
        val i = if (b.order == null) o else b.order(o)
        var tr = 0
        while (tr < c) {
          val sl = slots(tr)
          val p = b.pos(i * c + tr)
          if (sl != null && p >= 0 && p < sl.length && sl(p) >= 0) {
            val base = offs(tr) + sl(p) * cells
            val g = b.g(i * k + tr / t)
            val h = b.h(i * k + tr / t)
            val rowOff = i * numFeat
            var j = 0
            while (j < numFeat) {
              val idx = base + (featOff(j) + b.codes(rowOff + j)) * 3
              acc(idx) += g
              acc(idx + 1) += h
              acc(idx + 2) += 1.0
              j += 1
            }
          }
          tr += 1
        }
        o += 1
      }
      acc
    }
    val hist = PartialFold.sum(partials, offs(c))
    (next, Array.tabulate(c)(tr => java.util.Arrays.copyOfRange(hist, offs(tr), offs(tr + 1))))
  }

  /** Grows one round's C trees together: a root pass (a tree whose
    * draw holds no row — content-identical rows sample together, so a
    * tiny frame with few distinct rows can draw none — gets a second
    * root pass over every row, the whole-frame fallback), then one
    * [[histPass]] per level (depthwise) or expansion (lossguide) for
    * all trees at once, until every tree is done. Returns the last
    * pass's state; its positions miss only the final splits.
    */
  private def growRound(state: RDD[Block], shape: Shape,
      growers: Array[Grower], draws: Array[Draw]): RDD[Block] = {
    val c = shape.C
    val (first, roots) = histPass(state, shape, null, draws, Array.fill(c)(Array(0)))
    var st = first
    val empty = (0 until c).filter(tr => growers(tr).rowsIn(roots(tr)) == 0.0).toSet
    if (empty.nonEmpty) {
      val (again, full) = histPass(st, shape, null,
        Array.tabulate(c)(tr => if (empty(tr)) AllRows else null),
        Array.tabulate(c)(tr => if (empty(tr)) Array(0) else null))
      st.unpersist(false)
      st = again
      empty.foreach(tr => roots(tr) = full(tr))
    }
    (0 until c).foreach(tr => growers(tr).start(roots(tr)))
    var scans = growers.map(_.scans())
    while (scans.exists(_ != null)) {
      val (next, hists) = histPass(st, shape, growers.map(_.route), null, scans)
      st.unpersist(false)
      st = next
      (0 until c).foreach(tr => if (scans(tr) != null) growers(tr).consume(hists(tr)))
      scans = growers.map(_.scans())
    }
    st
  }

  /** Tree growth on the driver over the aggregated histograms: the
    * driver-side both-directions split search (missing-bin
    * enumeration, monotone fences, interaction groups) and split
    * application, stepped by [[growRound]] one histogram pass at a
    * time (`scans` names the nodes the next pass accumulates,
    * `consume` takes their histogram). Both growth policies:
    *
    *  - depthwise (XGBoost's default `grow_policy`): one pass per
    *    LEVEL covering the whole frontier — the fewest passes per tree,
    *  - lossguide (XGBoost/LightGBM best-first): always expand the
    *    highest-gain leaf until `max_leaves`; one pass per EXPANSION
    *    covering the two freshly created children. Deeper lopsided
    *    trees from the same leaf budget — the policy that wins on
    *    targets whose structure is concentrated in one region.
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
    * in SparseBoostSpec). Importance statistics are buffered in
    * `records`, in split order; the round replays them tree by tree.
    *
    * @param allowed per-feature mask — the tree's `colsample_bytree`
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
  private final class Grower(
      edges: Array[Array[Double]],
      featOff: Array[Int],
      params: GraftBoost.BoostParams,
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
    private val perNode = featOff(numFeat)

    // growable tree arrays; children appended as they are created
    private val feature = ArrayBuffer(-1)
    private val thresh = ArrayBuffer(0.0)
    private val bin = ArrayBuffer(-1)
    private val left = ArrayBuffer(-1)
    private val right = ArrayBuffer(-1)
    private val defLeft = ArrayBuffer(false)
    private val value = ArrayBuffer(0.0)
    private val cover = ArrayBuffer(0.0)
    private val nodeGain = ArrayBuffer(0.0)

    /** (feature, gain, cover) of every split, in split order. */
    val records = ArrayBuffer.empty[(Int, Double, Double)]

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

    /** Rows in a root histogram: every row lands in exactly one bin of
      * feature 0 (regions 0..m₀ plus the missing bin).
      */
    def rowsIn(rootHist: Array[Double]): Double = {
      var n = 0.0
      var b = 0
      while (b <= edges(0).length + 1) { n += rootHist((featOff(0) + b) * 3 + 2); b += 1 }
      n
    }

    /** Root (G, H, count) totals DERIVED from the root histogram by
      * summing feature 0's slots in ascending bin order —
      * deterministic, and no separate aggregation pass. Also seeds the
      * root node's estimate and cover.
      */
    private def rootStatFrom(rootHist: Array[Double]): NodeStat = {
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

    /** Best split of one node from its histogram block (slot base
      * offset in `hist`): both-directions missing enumeration,
      * hessian-sum min_child_weight, monotone ordering inside the
      * node's value fence, interaction-group filtering.
      */
    private def search(hist: Array[Double], slotBase: Int, stat: NodeStat): Option[Split] = {
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
    private def applySplit(stat: NodeStat, s: Split): (NodeStat, NodeStat) = {
      val NodeStat(node, _, hTot, _, vLo, vHi, path, depth) = stat
      records += ((s.feature, s.gain, hTot))
      val li = feature.length
      feature += -1; thresh += 0.0; bin += -1; left += -1; right += -1
      defLeft += false; value += nodeEstimate(s.gl, s.hl); cover += s.hl
      nodeGain += 0.0
      val ri = feature.length
      feature += -1; thresh += 0.0; bin += -1; left += -1; right += -1
      defLeft += false; value += nodeEstimate(s.gr, s.hr); cover += s.hr
      nodeGain += 0.0
      nodeGain(node) = s.gain
      feature(node) = s.feature
      thresh(node) = edges(s.feature)(s.bin)
      bin(node) = s.bin
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

    private def finalizeLeaf(stat: NodeStat): Unit =
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

    /** The routing of the tree as grown so far. */
    def route: Route = Route(feature.toArray, bin.toArray, defLeft.toArray,
      left.toArray, right.toArray)

    private val lossguide = params.growPolicy == "lossguide"

    // depthwise: fresh sibling pairs awaiting search, with their
    // parent's block, and the smaller siblings the next pass scans
    private var pending = scala.Vector.empty[(NodeStat, NodeStat, Array[Double])]
    private var scanned = scala.Vector.empty[NodeStat]
    private var depth = 0

    // lossguide: a max-heap of evaluated candidate splits — (split,
    // node stat, the node's own histogram block, null once the
    // retained-block budget is exhausted) — by (gain, LOWER node id),
    // the live leaf count and the expansion the next pass scans for
    private val queue = scala.collection.mutable.PriorityQueue.empty(
      Ordering.by[(Split, NodeStat, Array[Double]), (Double, Int)] {
        case (s, st, _) => (s.gain, -st.node)
      })
    private val maxLeaves = if (params.maxLeaves > 0) params.maxLeaves else Int.MaxValue
    private var leaves = 1
    private var expanding: (NodeStat, NodeStat, Array[Double]) = _

    // Sibling subtraction needs each candidate leaf's OWN block
    // retained until it is expanded or finalized. The retained set
    // is capped at MaxRetainedBlocks × perNode×3 doubles so an
    // unbounded (maxLeaves = 0) deep-and-wide growth can never pin
    // unbounded driver heap: candidates enqueued past the cap hold
    // null and their expansion re-scans both children (correct,
    // one extra accumulation — and every realistic tree stays
    // entirely on the subtraction path, which keeps unbounded
    // lossguide bit-identical to depthwise, spec-pinned).
    private def retained(hist: Array[Double], slot: Int): Array[Double] =
      if (queue.size >= MaxRetainedBlocks) null
      else if (slot == 0 && hist.length == perNode * 3) hist
      else blockOf(hist, slot)

    private def enqueueOrFinalize(stat: NodeStat, hist: Array[Double], slot: Int): Unit =
      if (stat.depth >= params.maxDepth) finalizeLeaf(stat)
      else search(hist, slot * perNode, stat) match {
        case Some(s) => queue.enqueue((s, stat, retained(hist, slot)))
        case None => finalizeLeaf(stat)
      }

    /** Takes the root histogram. */
    def start(rootHist: Array[Double]): Unit = {
      val root = rootStatFrom(rootHist)
      if (lossguide) enqueueOrFinalize(root, rootHist, 0)
      else if (params.maxDepth <= 0) finalizeLeaf(root)
      else {
        search(rootHist, 0, root) match {
          case Some(s) =>
            val (l, r) = applySplit(root, s)
            pending = scala.Vector((l, r, blockOf(rootHist, 0)))
          case None => finalizeLeaf(root)
        }
        depth = 1
      }
    }

    /** Node → slot (−1: not scanned) of the next pass, or null when
      * the tree is done. Lossguide applies its next expansion here.
      */
    def scans(): Array[Int] = {
      val slotOf: Seq[(Int, Int)] =
        if (lossguide) {
          if (leaves >= maxLeaves || queue.isEmpty) Nil
          else {
            val (s, stat, pBlock) = queue.dequeue()
            val (l, r) = applySplit(stat, s)
            leaves += 1
            expanding = (l, r, pBlock)
            // sibling trick: scan the smaller child only
            if (pBlock != null) Seq((if (l.cnt <= r.cnt) l else r).node -> 0)
            else Seq(l.node -> 0, r.node -> 1)
          }
        } else if (depth < params.maxDepth && pending.nonEmpty) {
          scanned = pending.map { case (l, r, _) => if (l.cnt <= r.cnt) l else r }
          scanned.map(_.node).zipWithIndex
        } else Nil
      if (slotOf.isEmpty) null
      else {
        val out = Array.fill(feature.length)(-1)
        slotOf.foreach { case (node, slot) => out(node) = slot }
        out
      }
    }

    /** Takes the histogram of the nodes [[scans]] named. */
    def consume(hist: Array[Double]): Unit =
      if (lossguide) {
        val (l, r, pBlock) = expanding
        if (pBlock != null) {
          val smallIsLeft = l.cnt <= r.cnt
          val bigBlock = minus(pBlock, hist)
          enqueueOrFinalize(l, if (smallIsLeft) hist else bigBlock, 0)
          enqueueOrFinalize(r, if (smallIsLeft) bigBlock else hist, 0)
        } else {
          enqueueOrFinalize(l, hist, 0)
          enqueueOrFinalize(r, hist, 1)
        }
      } else {
        val next = scala.Vector.newBuilder[(NodeStat, NodeStat, Array[Double])]
        pending.zip(scanned).zipWithIndex.foreach { case (((l, r, pBlock), small), slot) =>
          val smallBlock = blockOf(hist, slot)
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

    /** The grown tree: whatever is still open (the depth budget's
      * frontier, or lossguide's queue at the leaf budget) becomes a leaf.
      */
    def finish(): SparseTree = {
      pending.foreach { case (l, r, _) => finalizeLeaf(l); finalizeLeaf(r) }
      queue.foreach { case (_, stat, _) => finalizeLeaf(stat) }
      SparseTree(feature.toArray, thresh.toArray, left.toArray, right.toArray,
        defLeft.toArray, value.toArray, cover.toArray, nodeGain.toArray)
    }
  }

  /** Exact per-node totals, monotone value fence, root-path feature
    * set (interaction-constraint state) and depth, tracked on the
    * driver through tree growth.
    */
  private final case class NodeStat(
      node: Int, g: Double, h: Double, cnt: Double, lo: Double, hi: Double,
      path: Set[Int] = Set.empty, depth: Int = 0)

  /** `reg:quantileerror`'s leaf rule, run on each round's trees right
    * after they are grown: every leaf is reset to η · the exact
    * α-quantile ([[percentilesByKey]]) of the residuals y − f of the
    * rows that land in it, over the same row sample the tree was grown
    * on (sklearn's QuantileLossFunction `_update_terminal_region`;
    * Friedman's TreeBoost line search). The Newton values the grower
    * wrote are discarded, so neither the monotone value fence nor
    * `maxDeltaStep` constrains these leaves. One job: it also applies
    * the trees' final splits, and returns that state.
    *
    * The quantile is UNWEIGHTED, as SQL `percentile`'s integral
    * frequency argument was: weights steer the split search only.
    */
  private def quantileLeaves(state: RDD[Block], shape: Shape,
      trees: Array[SparseTree], routes: Array[Route], alpha: Double,
      eta: Double): RDD[Block] = {
    val Shape(numFeat, _, _, miss, _) = shape
    val c = shape.C
    val walked = state.map { b =>
      b.copy(pos = Array.tabulate(b.n * c) { at =>
        routes(at % c).move(b.pos(at), b.codes, at / c * numFeat, miss)
      })
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val resid = walked.flatMap { b =>
      val byLeaf = scala.collection.mutable.LinkedHashMap.empty[(Int, Int), ArrayBuffer[Double]]
      var at = 0
      while (at < b.n * c) {
        val p = b.pos(at)
        if (p >= 0) {
          val i = at / c
          val fm = if (b.s == null) b.f(i) else b.f(i) - b.s(i)
          byLeaf.getOrElseUpdate((at % c, p), new ArrayBuffer[Double]) += b.label(i) - fm
        }
        at += 1
      }
      byLeaf.iterator.map { case (key, xs) => (key, xs.toArray) }
    }
    percentilesByKey(resid, trees.map(_.feature.count(_ < 0)).sum, Array(alpha))
      .foreach { case ((tr, leaf), q) => trees(tr).value(leaf) = eta * q(0) }
    walked
  }

  /** Early stopping inside the round loop (the reference's
    * `early_stopping_rounds`, `core.py:435-449`): rows whose boolean
    * column `col` is true are validation rows. They get every round's
    * margin update, and `metric` (None: the objective's own) is
    * evaluated over them after each round; the loop stops once it has
    * not improved for `patience` rounds ([[StagedEval.stalledAt]]) and
    * keeps the forest of the best round ([[StagedEval.bestIteration]]).
    * They get no gradient, histogram, base-margin, edge or quantile-leaf
    * share.
    */
  final case class EarlyStop(col: String, metric: Option[String] = None, patience: Int = 1)

  /** What the round loop grew: the forest in growth order (round r,
    * channel k, parallel tree t at ((r−1)·K + k)·T + t − 1), the start
    * margin, the per-round split statistics and their sum, the
    * per-round train history, whether a DART round rescaled earlier
    * trees, and under [[EarlyStop]] the per-round validation history
    * (one value per trained round; the forest and statistics are cut to
    * the best round).
    */
  final case class Fit(
      trees: Array[SparseTree],
      base: Double,
      roundAccs: Seq[ImportanceAcc],
      stats: ImportanceAcc,
      history: Array[Double],
      dartRescaled: Boolean,
      validation: Array[Double] = Array.emptyDoubleArray
  ) {
    /** The forest as a single-channel model. */
    def sparseModel(uid: String, params: GraftBoost.BoostParams): SparseModel = {
      val gSum = stats.gain.sum
      val imp = if (gSum > 0) stats.gain.map(_ / gSum) else stats.gain.clone()
      new SparseModel(uid, trees, base, params.objective, imp, stats,
        Some(roundAccs), params.numParallelTree, dartRescaled)
    }
  }

  /** A partition's training rows as a [[Block]] without codes or
    * boosting state: features, label, then the optional user weight,
    * base margin, group and validation-flag columns at the given
    * indices (−1: absent).
    */
  private def readBlock(rows: Iterator[Row], wIx: Int, bmIx: Int, gIx: Int,
      vIx: Int, objective: Objective): Block = {
    val raw = new ArrayBuffer[Array[Double]]
    val label = new ArrayBuffer[Double]
    val user = new ArrayBuffer[Double]
    val bm = new ArrayBuffer[Double]
    val group = new ArrayBuffer[Long]
    val valid = new ArrayBuffer[Boolean]
    rows.foreach { r =>
      raw += r.getAs[Vector](0).toArray
      label += r.getDouble(1)
      if (wIx >= 0) user += r.getDouble(wIx)
      if (bmIx >= 0) bm += r.getDouble(bmIx)
      if (gIx >= 0) group += r.getLong(gIx)
      if (vIx >= 0) valid += r.getBoolean(vIx)
    }
    val weight =
      if (!objective.weighted(wIx >= 0)) null
      else Array.tabulate(label.length)(i =>
        objective.rowWeight(if (wIx >= 0) user(i) else 1.0, label(i)))
    Block(raw.toArray, label.toArray, weight,
      if (gIx >= 0) group.toArray else null, codes = null,
      f = if (bmIx >= 0) bm.toArray else null,
      s = null, g = null, h = null, order = null, pos = null, loss = null,
      valid = if (vIx >= 0) valid.toArray else null)
  }

  /** The boosting round loop — the one `xgb.train` loop of the
    * reference (`core.py:164-321`), for every [[Objective]]. `data`
    * must carry `features` (vector; NaN marks missing), `label` and
    * the objective's [[Objective.inputs]]; an optional weight column
    * scales each row's (g, h) — XGBoost's instance weights.
    *
    * The training rows become one [[Block]] per partition, once per
    * fit (`boost: propose-edges` reads them for the exact edges,
    * `boost: init-margin` bins them and writes round 1's gradients).
    * A round then grows its K·T trees together ([[growRound]]: one
    * `boost: r<r> grow` job per depthwise level) and ends with one
    * fused `boost: r<r> margin-update` job: each row walks the last
    * splits to its leaf, f gains the leaf values, the loss partials
    * fold through [[PartialFold]] and the next round's (g, h) — and
    * DART share — are written. A depthwise round is depth + 1 jobs
    * (quantile adds its leaf job). Each round's state is a
    * `localCheckpoint`, cutting the lineage.
    *
    * Tree idx = ((r−1)·K + k)·T + t draws its own `subsample` rows
    * ([[GraftBoost.roundSample]]), `colsample_bytree` features and
    * grower seed: (r−1)·T + t for one channel, (r−1)·K + k + 1 for
    * softprob's single trees. Softprob and ranking honour both samples.
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
    *
    * `earlyStop` folds a validation metric into each round
    * ([[EarlyStop]]): a sum-decomposable one ([[Objective.sumMetric]])
    * inside the fused margin-update job, `auc` / `aucpr` by the rank
    * arithmetic of [[StagedEval.aucByRound]] over that round's
    * validation margins. Nothing is retrained.
    */
  def train(
      data: DataFrame,
      params: GraftBoost.BoostParams,
      objective: Objective,
      weightCol: Option[String] = None,
      marginCol: Option[String] = None,
      earlyStop: Option[EarlyStop] = None
  ): Fit = {
    val K = objective.channels
    val T = params.numParallelTree
    require(params.booster != "dart" || objective.supportsDart,
      s"booster=\"dart\" drops trees from one per-row margin; " +
      s"${objective.name} has none")
    val valMetric = earlyStop.map(_.metric.getOrElse(objective.metricName))
    val sumMetric = valMetric.flatMap(objective.sumMetric)
    valMetric.foreach { m =>
      require(!objective.isInstanceOf[Objective.Rank],
        "ranking objectives take no validation rows: their gradients and " +
        "NDCG windows span whole groups")
      require(params.booster != "dart",
        "early stopping keeps the best round's forest; a DART forest's " +
        "dropout rescales leave no round prefix to keep")
      require(sumMetric.isDefined ||
          (K == 1 && Set("auc", "aucpr", "aucpr-trapezoid")(m)),
        s"unknown eval metric '$m' for ${objective.name}")
    }
    val keep = Seq(col("features"), col("label").cast("double").as("label")) ++
      weightCol.map(c => col(c).cast("double").as("graft_w")) ++
      marginCol.map(c => GraftBoost.marginColumn(c).as("graft_bm")) ++
      earlyStop.map(es => coalesce(col(es.col).cast("boolean"), lit(false)).as("graft_val")) ++
      objective.inputs
    val src = data.select(keep: _*)
    // the rows the base margin and the approx edges are learned from
    val trainSrc = if (earlyStop.isEmpty) src else src.filter(!col("graft_val"))

    val sc = data.sparkSession.sparkContext
    sc.setJobDescription("boost: propose-edges")
    // VectorAssembler records the width; only a vector of unknown size
    // (array_to_vector, a caller's own column) needs a row to read it
    val numFeat = AttributeGroup.fromStructField(src.schema("features")).size match {
      case -1 => src.select(col("features")).head().getAs[Vector](0).size
      case n => n
    }
    val laid = objective.layout(src)
    val names = laid.columns
    val (wIx, bmIx, gIx, vIx) = (names.indexOf("graft_w"), names.indexOf("graft_bm"),
      names.indexOf("group"), names.indexOf("graft_val"))
    val rows = laid.rdd.mapPartitions(it =>
      Iterator.single(readBlock(it, wIx, bmIx, gIx, vIx, objective)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edges = proposeEdges(trainSrc, rows, numFeat, params.maxBins, params.splitProposal)
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
      else objective.defaultBase(trainSrc)
    val featOff = edges.scanLeft(0)(_ + _.length + 2)
    val shape = Shape(numFeat, K, T, edges.map(_.length + 1), featOff)
    // bins once; per-row base_margin REPLACES the scalar base as the
    // boosting start point (stock: base_score is unused when
    // base_margin rides the DMatrix)
    sc.setJobDescription("boost: init-margin")
    var state = rows.map { b =>
      val codes = new Array[Int](b.n * numFeat)
      var i = 0
      while (i < b.n) {
        var j = 0
        while (j < numFeat) {
          val x = b.raw(i)(j)
          codes(i * numFeat + j) =
            if (java.lang.Double.isNaN(x)) edges(j).length + 1 else regionOf(x, edges(j))
          j += 1
        }
        i += 1
      }
      val f = if (b.f != null) b.f else Array.fill(b.n * K)(base)
      val g = new Array[Double](b.n * K)
      val h = new Array[Double](b.n * K)
      val (loss, order) = objective.evaluate(b, f, null, g, h)
      b.copy(codes = codes, f = f, g = g, h = h, order = order, loss = loss)
    }.localCheckpoint()
    state.count()
    rows.unpersist(false)

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
    // DART: round r's dropped tree set (empty = plain round); its
    // margin share s is written by the pass before the round
    def dropSet(r: Int): Seq[Int] =
      if (params.booster != "dart" || forest.isEmpty ||
          (params.skipDrop > 0.0 && u01(2L, r, -1L) < params.skipDrop)) Nil
      else forest.indices.filter(i => u01(1L, r, i) < params.rateDrop)
    var dropped = dropSet(1)
    val keepRows = math.round(params.subsample * 1000)
    val valHist = new ArrayBuffer[Double](params.numRound)
    var stopped = false

    var r = 1
    while (r <= params.numRound && !stopped) {
      val k = dropped.length
      val roundAcc = ImportanceAcc(numFeat)
      roundAccs += roundAcc
      // num_parallel_tree: T trees per channel on the SAME round
      // gradients, each with its own deterministic subsample/colsample
      // draws; leaf values pre-scaled by 1/T so the stored model stays
      // a plain sum and the round's update is the ensemble AVERAGE
      val idxs = Array.tabulate(K * T)(c => ((r - 1) * K + c / T) * T + c % T + 1)
      val growers = idxs.map(idx => new Grower(edges, featOff, params,
        roundMask(idx), constraints, params.seed ^ (1337L * idx)))
      sc.setJobDescription(s"boost: r$r grow")
      var grown = growRound(state, shape, growers,
        idxs.map(idx => Draw(params.seed + 197L * idx, keepRows)))
      val newTrees = growers.map(_.finish())
      // importance sums keep the tree-by-tree association
      growers.foreach(_.records.foreach { case (j, gain, cov) =>
        roundAcc.record(j, gain, cov) })
      val routes = growers.map(_.route)
      objective.leafQuantile.foreach { alpha =>
        sc.setJobDescription(s"boost: r$r leaf-quantile")
        val walked = quantileLeaves(grown, shape, newTrees, routes, alpha, params.eta)
        grown.unpersist(false)
        grown = walked
      }
      // "sum" (XGBoost compat) keeps member trees unscaled; the
      // default averages them (1/T pre-scale, see BoostParams)
      if (T > 1 && params.parallelTreeUpdate == "average")
        newTrees.foreach { t =>
          var j = 0
          while (j < t.value.length) { t.value(j) /= T; j += 1 }
        }
      // the margin update reads these leaf values; the DART rescale
      // below changes the trees themselves
      val leafValues = newTrees.map(_.value.clone())
      val kd = (k + 1).toDouble
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
      val last = r == params.numRound
      dropped = if (last) Nil else dropSet(r + 1)
      val dropTrees = dropped.map(i => forest(i).copy(value = forest(i).value.clone())).toArray

      // margin update f'_k = f_k + (Σ_t tree_{k,t} − s)/(k+1):
      // simultaneously adds the channel's trees (1/T-pre-scaled under
      // the default "average" mode; unscaled under "sum") and removes
      // the share the dropped trees lose to their k/(k+1) rescale
      // (k = 0 for every non-DART round — DART forbids T > 1, so Σ is
      // one tree whenever k > 0); then the loss partial and, unless
      // this is the last round, the next round's DART share and (g, h)
      sc.setJobDescription(s"boost: r$r margin-update")
      val miss = shape.miss
      val c = shape.C
      val next = grown.map { b =>
        val f = new Array[Double](b.n * K)
        var i = 0
        while (i < b.n) {
          var ch = 0
          while (ch < K) {
            var acc = if (b.s == null) -0.0 else -b.s(i)
            var tr = ch * T
            while (tr < (ch + 1) * T) {
              val p = b.pos(i * c + tr)
              acc += leafValues(tr)(routes(tr).walk(if (p >= 0) p else ~p,
                b.codes, i * numFeat, miss))
              tr += 1
            }
            f(i * K + ch) = b.f(i * K + ch) + acc / kd
            ch += 1
          }
          i += 1
        }
        val s =
          if (dropTrees.isEmpty) null
          else Array.tabulate(b.n) { i =>
            var acc = 0.0
            dropTrees.foreach(t => acc += t.valueOf(b.raw(i)))
            acc
          }
        val (g, h) =
          if (last) (null, null) else (new Array[Double](b.n * K), new Array[Double](b.n * K))
        val (loss, order) = objective.evaluate(b, f, s, g, h)
        b.copy(f = f, s = s, g = g, h = h, order = order, pos = null,
          loss = sumMetric.fold(loss)(loss ++ _.partial(b, f, K)))
      }.localCheckpoint()
      val folded = PartialFold.sum(next.map(_.loss), if (sumMetric.isEmpty) 2 else 4)
      hist += objective.loss(folded)
      valMetric.foreach { m =>
        val v = sumMetric.fold(rankMetric(data.sparkSession, next, m))(
          _.value(folded(2), folded(3)))
        // a one-class validation set makes AUC 0/0 every round, and an
        // empty one every metric: no round could be ranked
        require(!v.isNaN, s"$m is NaN on the validation rows (none, or one " +
          "class only for AUC) — early stopping cannot rank rounds")
        valHist += v
        stopped = StagedEval.stalledAt(valHist.toArray, m, earlyStop.get.patience).isDefined
      }
      grown.unpersist(false)
      GraftRddBridge.release(state)
      state = next
      r += 1
    }
    GraftRddBridge.release(state)
    // early stopping keeps the best round's prefix
    val kept = valMetric.fold(roundAccs.length)(StagedEval.bestIteration(valHist.toArray, _))
    Fit(forest.take(kept * K * T).toArray, base, roundAccs.take(kept).toSeq,
      ImportanceAcc.sum(roundAccs.take(kept).toSeq, numFeat), hist.toArray, anyDartRescale,
      valHist.toArray)
  }

  /** `auc` / `aucpr` / `aucpr-trapezoid` over the validation rows'
    * margins of one round's state, by [[StagedEval]]'s rank arithmetic.
    */
  private def rankMetric(spark: SparkSession, state: RDD[Block], metric: String): Double = {
    import spark.implicits._
    val staged = state.flatMap { b =>
      (0 until b.n).iterator.filter(b.valid(_)).map(i => (1, b.label(i), b.f(i), 1.0))
    }.toDF("round", "label", "margin", "w")
    val byRound =
      if (metric == "auc") StagedEval.aucByRound(staged)
      else StagedEval.aucprByRound(staged, trapezoid = metric == "aucpr-trapezoid")
    byRound.head
  }
}
