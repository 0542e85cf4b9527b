package graft.ml

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pairwise learning-to-rank boosting — XGBoost's `rank:pairwise`
  * (plain RankNet pair gradients) and `rank:ndcg` (LambdaMART:
  * pairs weighted by |ΔNDCG| at the current ranks, Burges 2010)
  * objectives, reachable in the reference through its params passthrough
  * (`core.py:164-321` forwards arbitrary `params` to `xgb.train`;
  * group structure rides the DMatrix). A Spark-native restatement:
  *
  *  1. rows carry (features, relevance label, group id, margin f),
  *     hash-partitioned and sorted by group id ONCE at fit entry;
  *     each round computes RankNet gradients PER GROUP with a
  *     partition-local run-walker over the contiguous groups — for
  *     every in-group pair (i, j) with rel_i > rel_j,
  *     ρ = σ(−(f_i − f_j)) contributes −ρ to g_i, +ρ to g_j and
  *     ρ(1−ρ) to both hessians (the exact XGBoost pairwise loop).
  *     Groups are queries: thousands of documents at most, so the
  *     in-group O(n²) is bounded and the across-group parallelism is
  *     the scale axis. ONE shuffle establishes the group clustering
  *     for the whole fit — the per-round gradient walk, the margin
  *     updates (narrow) and the NDCG windows (clustered-distribution
  *     reuse) all ride it; at 100 TB this is the natural
  *     co-partitioning — group id is the key everywhere,
  *  2. the gradient frame is localCheckpoint'ed once per round, then
  *     [[SparseBoost.growTree]] fits a histogram tree on it (shared
  *     split-proposal edges, missing-bin routing, monotone/colsample
  *     knobs all inherited),
  *  3. the model IS a [[SparseBoost.SparseModel]] with objective
  *     `rank:pairwise` (margins are the ranking scores), so the whole
  *     lifecycle — sink/load, importances, local predict, staged
  *     truncation — comes for free,
  *  4. the per-round history is mean NDCG@k over groups, computed
  *     distributed with window functions (deterministic tie-break on
  *     the row hash).
  */
object RankBoost {

  /** Mean NDCG@k over groups of ranking by `scoreCol` (ties broken by
    * a content hash so the metric is deterministic). Relevance gains
    * are the standard 2^rel − 1.
    */
  def meanNdcg(
      df: DataFrame,
      groupCol: String,
      labelCol: String,
      scoreCol: String,
      k: Int
  ): Double = {
    // content tie-break: rows identical in (group, label, score) are
    // interchangeable under NDCG, so a content hash makes the metric
    // fully deterministic with no positional state
    val tie = xxhash64(col(groupCol), col(labelCol), col(scoreCol))
    val byScore = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, tie.asc)
    val byRel = Window.partitionBy(col(groupCol))
      .orderBy(col(labelCol).desc, tie.asc)
    val gain = (pow(lit(2.0), col(labelCol)) - 1.0)
    val scored = df
      .withColumn("rnk_s", row_number().over(byScore))
      .withColumn("rnk_i", row_number().over(byRel))
      .withColumn("dcg_part",
        when(col("rnk_s") <= k, gain / log(2.0, col("rnk_s") + 1.0))
          .otherwise(lit(0.0)))
      .withColumn("idcg_part",
        when(col("rnk_i") <= k, gain / log(2.0, col("rnk_i") + 1.0))
          .otherwise(lit(0.0)))
      .groupBy(col(groupCol))
      .agg(sum(col("dcg_part")).as("dcg"), sum(col("idcg_part")).as("idcg"))
      .filter(col("idcg") > 0)
      .select(avg(col("dcg") / col("idcg")))
    scored.head().getDouble(0)
  }

  /** Train the pairwise ranker. `data` must carry `features`
    * (vector), `label` (graded relevance, larger = better) and
    * `group` (long query/group id).
    *
    * @return the model (a [[SparseBoost.SparseModel]] whose margins
    *         are ranking scores) plus the per-round TRAIN NDCG@10
    *         history
    */
  /** RankNet / LambdaMART gradients for ONE group's rows. The rows
    * are first put in a deterministic in-group order (margin desc,
    * relevance desc, content-hash tie-break) so the rank positions —
    * and the float accumulation order — never depend on arrival
    * order; position i then IS the current rank i+1.
    */
  private def pairGradients(
      groupRows: Array[(Long, Vector, Double, Double)],
      ndcgWeighted: Boolean
  ): Iterator[(Vector, Double, Double)] = {
    val rows = groupRows.sortBy { case (_, v, rel, f) =>
      (-f, -rel, java.util.Arrays.hashCode(v.toArray))
    }
    val n = rows.length
    val g = new Array[Double](n)
    val h = new Array[Double](n)
    val disc = Array.tabulate(n)(i =>
      1.0 / (math.log(i + 2.0) / math.log(2.0)))
    val idcg =
      if (!ndcgWeighted) 1.0
      else {
        val sortedRel = rows.map(_._3).sorted(Ordering[Double].reverse)
        var s = 0.0
        var i = 0
        while (i < n) {
          s += (math.pow(2.0, sortedRel(i)) - 1.0) * disc(i)
          i += 1
        }
        s
      }
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val (ri, rj) = (rows(i)._3, rows(j)._3)
        if (ri != rj) {
          // hi = preferred index, lo = the other
          val (hiI, loI) = if (ri > rj) (i, j) else (j, i)
          val w =
            if (!ndcgWeighted || idcg <= 0.0) 1.0
            else math.abs(math.pow(2.0, ri) - math.pow(2.0, rj)) *
              math.abs(disc(i) - disc(j)) / idcg
          val rho = 1.0 / (1.0 +
            math.exp(rows(hiI)._4 - rows(loI)._4))
          g(hiI) -= rho * w
          g(loI) += rho * w
          val hess = math.max(rho * (1.0 - rho) * w, 1e-16)
          h(hiI) += hess
          h(loI) += hess
        }
        j += 1
      }
      i += 1
    }
    (0 until n).iterator.map(i2 => (rows(i2)._2, g(i2), h(i2)))
  }

  def train(
      data: DataFrame,
      params: GraftBoost.BoostParams
  ): (SparseBoost.SparseModel, Array[Double]) = {
    require(params.objective == "rank:pairwise" ||
      params.objective == "rank:ndcg",
      s"ranking objectives are rank:pairwise and rank:ndcg, " +
      s"got ${params.objective}")
    val spark = data.sparkSession
    import spark.implicits._
    val src = data.select(col("features"), col("label").cast("double"),
      col("group").cast("long"))

    val numFeat = src.select(col("features")).head().getAs[Vector](0).size
    val edges = SparseBoost.proposeEdges(src, numFeat, params.maxBins,
      params.splitProposal)
    SparseBoost.validateFeatureParams(params, numFeat)
    val constraints =
      if (params.monotoneConstraints.isEmpty) new Array[Int](numFeat)
      else params.monotoneConstraints.toArray
    val allowed = Array.fill(numFeat)(true)

    // Establish the group partitioning ONCE (guide §2.4 "two
    // operations keyed the same way can share one exchange"): the
    // per-round gradient pass needs rows grouped by query id and the
    // per-round NDCG windows need a clustered-by-group distribution —
    // hash-partitioning + an in-partition group sort here satisfies
    // BOTH for every round, where the previous groupByKey (opaque
    // lambda key — Catalyst cannot see it equals the group column)
    // re-shuffled the full feature frame every round and meanNdcg
    // added a second full exchange per round on top.
    val groupParts = math.max(1, src.rdd.getNumPartitions)
    var cur = src.withColumn("f", lit(0.0))
      .repartition(groupParts, col("group"))
      .sortWithinPartitions(col("group"))
      .localCheckpoint()
    val roundAccs = new ArrayBuffer[SparseBoost.ImportanceAcc](params.numRound)
    val hist = new ArrayBuffer[Double](params.numRound)
    val forest = new ArrayBuffer[SparseBoost.SparseTree](params.numRound)

    val ndcgWeighted = params.objective == "rank:ndcg"
    for (r <- 1 to params.numRound) {
      // RankNet / LambdaMART gradients, one group at a time. Groups
      // are CONTIGUOUS within each partition (established above and
      // preserved by the narrow margin updates), so a partition-local
      // run-walker replaces the per-round shuffle; the pair loop stays
      // in primitive arrays and only (features, g, h) rows leave the
      // group — nothing group-quadratic is materialized. Under
      // rank:ndcg each pair is weighted by |ΔNDCG| — the NDCG swap
      // cost at the CURRENT ranks (Burges' LambdaMART), so top
      // positions dominate the gradient. The walker checks that
      // contiguity as it goes: each run's group id must exceed the
      // previous run's, or a split group would silently lose the
      // pairs across its pieces.
      val grad = cur.select(col("group"), col("features"), col("label"), col("f"))
        .as[(Long, Vector, Double, Double)]
        .mapPartitions { (it: Iterator[(Long, Vector, Double, Double)]) =>
          val in = it.buffered
          var prev = Option.empty[Long]
          val perGroup = new Iterator[Iterator[(Vector, Double, Double)]] {
            def hasNext: Boolean = in.hasNext
            def next(): Iterator[(Vector, Double, Double)] = {
              val gId = in.head._1
              if (prev.exists(_ >= gId))
                throw new IllegalStateException(
                  s"ranking group $gId is not one contiguous run in its " +
                  s"partition (it follows group ${prev.get}): the " +
                  "group-sorted layout was lost")
              prev = Some(gId)
              val groupRows = ArrayBuffer.empty[(Long, Vector, Double, Double)]
              while (in.hasNext && in.head._1 == gId)
                groupRows += in.next()
              pairGradients(groupRows.toArray, ndcgWeighted)
            }
          }
          perGroup.flatten
        }
        .toDF("features", "g", "h")
        .localCheckpoint()

      val roundAcc = SparseBoost.ImportanceAcc(numFeat)
      roundAccs += roundAcc
      val tree = SparseBoost.growTree(grad, edges, params, roundAcc,
        allowed, constraints, params.seed ^ (1337L * r))
      forest += tree

      val bc = spark.sparkContext.broadcast(tree)
      val upd = udf((v: Vector, f: Double) => f + bc.value.valueOf(v))
      cur = cur.withColumn("f", upd(col("features"), col("f"))).localCheckpoint()
      hist += meanNdcg(cur, "group", "label", "f", 10)
    }
    val acc = SparseBoost.ImportanceAcc.sum(roundAccs.toSeq, numFeat)
    val gSum = acc.gain.sum
    val imp = if (gSum > 0) acc.gain.map(_ / gSum) else acc.gain.clone()
    (new SparseBoost.SparseModel(s"rank_${params.seed}", forest.toArray, 0.0,
      params.objective, imp, acc, Some(roundAccs.toSeq)), hist.toArray)
  }
}
