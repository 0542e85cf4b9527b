package graft.ml

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The ranking parts of `rank:pairwise` (RankNet pair gradients) and
  * `rank:ndcg` (LambdaMART: pairs weighted by |ΔNDCG| at the current
  * ranks, Burges 2010), the objectives [[Objective.Rank]] runs in the
  * boosting round loop: the per-group pair gradients and the mean-NDCG
  * history metric. For every in-group pair (i, j) with rel_i > rel_j,
  * ρ = σ(−(f_i − f_j)) contributes −ρ to g_i, +ρ to g_j and ρ(1−ρ) to
  * both hessians (the exact XGBoost pairwise loop). Groups are
  * queries: the in-group O(n²) is bounded, and the across-group
  * parallelism is the scale axis.
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

  /** RankNet / LambdaMART gradients for ONE group's rows. The rows
    * are first put in a deterministic in-group order (margin desc,
    * relevance desc, content-hash tie-break) so the rank positions —
    * and the float accumulation order — never depend on arrival
    * order; position i then IS the current rank i+1.
    */
  private def pairGradients(
      groupRows: Array[(Long, Vector, Double, Double)],
      ndcgWeighted: Boolean
  ): Iterator[(Vector, Double, Double, Double)] = {
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
    (0 until n).iterator.map(i2 => (rows(i2)._2, rows(i2)._3, g(i2), h(i2)))
  }

  /** Pair gradients of a partition of (group, features, relevance,
    * margin) rows as (features, relevance, g, h) rows, one group run
    * at a time. Groups must be CONTIGUOUS in the partition (the
    * group-sorted layout [[Objective.Rank]] sets up once per fit), so
    * a run-walker replaces a per-round shuffle and nothing
    * group-quadratic is materialized. The walker checks that: each
    * run's group id must exceed the previous run's, or a split group
    * would silently lose the pairs across its pieces.
    */
  private[ml] def groupGradients(
      it: Iterator[(Long, Vector, Double, Double)],
      ndcgWeighted: Boolean
  ): Iterator[(Vector, Double, Double, Double)] = {
    val in = it.buffered
    var prev = Option.empty[Long]
    val perGroup = new Iterator[Iterator[(Vector, Double, Double, Double)]] {
      def hasNext: Boolean = in.hasNext
      def next(): Iterator[(Vector, Double, Double, Double)] = {
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
}
