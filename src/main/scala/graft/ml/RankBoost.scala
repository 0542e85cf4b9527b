package graft.ml

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

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

  /** Start offsets of a block's group runs (plus the end): groups
    * must be CONTIGUOUS in the block (the group-sorted layout
    * [[Objective.Rank]] sets up once per fit), so a run-walker replaces
    * a per-round shuffle. The walker checks that: each run's group id
    * must exceed the previous run's, or a split group would silently
    * lose the pairs across its pieces.
    */
  private[ml] def groupRuns(group: Array[Long]): Array[Int] = {
    val runs = ArrayBuffer(0)
    var i = 1
    while (i <= group.length) {
      if (i == group.length || group(i) != group(i - 1)) {
        if (i < group.length && group(i) < group(i - 1))
          throw new IllegalStateException(
            s"ranking group ${group(i)} is not one contiguous run in its " +
            s"partition (it follows group ${group(i - 1)}): the " +
            "group-sorted layout was lost")
        runs += i
      }
      i += 1
    }
    if (group.isEmpty) Array(0) else runs.toArray
  }

  /** RankNet / LambdaMART gradients of a block's rows, one group run
    * at a time, written at each row's index. Each group's rows are
    * first put in a deterministic order (margin desc, relevance desc,
    * content-hash tie-break) so the rank positions — and the float
    * accumulation order — never depend on arrival order; position i
    * then IS the current rank i+1. Returns the rows in that order,
    * group after group: the order the grower accumulates them in.
    */
  private[ml] def groupGradients(
      runs: Array[Int],
      raw: Array[Array[Double]],
      rel: Array[Double],
      f: Array[Double],
      ndcgWeighted: Boolean,
      g: Array[Double],
      h: Array[Double]
  ): Array[Int] = {
    val order = new Array[Int](rel.length)
    var r = 0
    while (r + 1 < runs.length) {
      val rows = (runs(r) until runs(r + 1)).toArray.sortBy { i =>
        (-f(i), -rel(i), java.util.Arrays.hashCode(raw(i)))
      }
      pairGradients(rows, rel, f, ndcgWeighted, g, h)
      System.arraycopy(rows, 0, order, runs(r), rows.length)
      r += 1
    }
    order
  }

  private def pairGradients(
      rows: Array[Int],
      rel: Array[Double],
      f: Array[Double],
      ndcgWeighted: Boolean,
      gOut: Array[Double],
      hOut: Array[Double]
  ): Unit = {
    val n = rows.length
    val g = new Array[Double](n)
    val h = new Array[Double](n)
    val disc = Array.tabulate(n)(i =>
      1.0 / (math.log(i + 2.0) / math.log(2.0)))
    val idcg =
      if (!ndcgWeighted) 1.0
      else {
        val sortedRel = rows.map(rel).sorted(Ordering[Double].reverse)
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
        val (ri, rj) = (rel(rows(i)), rel(rows(j)))
        if (ri != rj) {
          // hi = preferred index, lo = the other
          val (hiI, loI) = if (ri > rj) (i, j) else (j, i)
          val w =
            if (!ndcgWeighted || idcg <= 0.0) 1.0
            else math.abs(math.pow(2.0, ri) - math.pow(2.0, rj)) *
              math.abs(disc(i) - disc(j)) / idcg
          val rho = 1.0 / (1.0 +
            math.exp(f(rows(hiI)) - f(rows(loI))))
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
    i = 0
    while (i < n) { gOut(rows(i)) = g(i); hOut(rows(i)) = h(i); i += 1 }
  }

  /** (Σ NDCG@k, number of groups) over a block's group runs whose ideal
    * DCG is positive — [[meanNdcg]]'s terms, with the same ranking by
    * margin (ties broken by the same content hash) and the same gains
    * and discounts; only the float association of the sums differs.
    */
  private[ml] def ndcgPartial(runs: Array[Int], group: Array[Long],
      rel: Array[Double], f: Array[Double], k: Int): Array[Double] = {
    // SQL's double order: -0.0 equals 0.0
    def cmp(a: Double, b: Double): Int =
      if (a == b) 0 else java.lang.Double.compare(a, b)
    def dcg(rows: Array[Int]): Double = {
      var s = 0.0
      var r = 0
      while (r < math.min(k, rows.length)) {
        s += (StrictMath.pow(2.0, rel(rows(r))) - 1.0) /
          (StrictMath.log(r + 2.0) / StrictMath.log(2.0))
        r += 1
      }
      s
    }
    var sum = 0.0
    var groups = 0.0
    var r = 0
    while (r + 1 < runs.length) {
      val rows = (runs(r) until runs(r + 1)).toArray
      val tie = rows.map { i =>
        var hash = 42L
        hash = XxHash64Function.hash(group(i), LongType, hash)
        hash = XxHash64Function.hash(rel(i), DoubleType, hash)
        XxHash64Function.hash(f(i), DoubleType, hash)
      }
      val ix = rows.indices.toArray
      def ranked(key: Int => Double): Array[Int] =
        ix.sortWith { (a, b) =>
          val c = cmp(key(b), key(a))
          if (c != 0) c < 0 else tie(a) < tie(b)
        }.map(rows)
      val ideal = dcg(ranked(a => rel(rows(a))))
      if (ideal > 0) {
        sum += dcg(ranked(a => f(rows(a)))) / ideal
        groups += 1
      }
      r += 1
    }
    Array(sum, groups)
  }
}
