package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.SparseBoost

/** The exact-percentile helper behind exact split proposal, the
  * quantile leaf rule and the quantile base score
  * ([[SparseBoost.percentilesByKey]]) against its oracle, Spark SQL's
  * `percentile`, compared as raw double bits.
  */
class ExactPercentileSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private val edgeProbs = (1 until 32).map(_ / 32.0).toArray
  private val probs = Seq(edgeProbs, Array(0.0, 0.25, 0.5, 0.7, 1.0), Array(0.5),
    Array.tabulate(1001)(_ / 1000.0))

  private def bits(xs: Array[Double]): Seq[String] =
    xs.toSeq.map(x => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(x)))

  private def frame(xs: Seq[Double], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(xs.map(Tuple1(_)), parts)).toDF("x")

  /** The SQL form exact `proposeEdges` used: NaN filtered out. */
  private def sql(df: DataFrame, p: Array[Double]): Array[Double] = {
    val r = df.filter(!isnan(col("x"))).agg(percentile(col("x"), lit(p))).head()
    if (r.isNullAt(0)) Array.emptyDoubleArray else r.getSeq[Double](0).toArray
  }

  private def helper(df: DataFrame, p: Array[Double]): Array[Double] =
    SparseBoost.percentilesByKey(
      df.rdd.mapPartitions(it => Iterator.single((0, it.map(_.getDouble(0)).toArray))),
      1, p).getOrElse(0, Array.emptyDoubleArray)

  private val fixtures: Seq[(String, Seq[Double])] = Seq(
    "ties" -> Seq(1.0, 1.0, 1.0, 2.0, 2.0, 3.0, 5.0, 5.0, 5.0, 5.0, 8.0),
    "NaN skipped" -> Seq(3.0, Double.NaN, 1.0, Double.NaN, 2.0, 7.5),
    "negatives" -> Seq(-5.5, -1.25, -1.25, 0.5, 3.0, -7.0, -0.125),
    "-0.0 beside 0.0" -> Seq(-0.0, 0.0, 0.0, -0.0, 1.0, -1.0, 0.0, 2.0),
    "constant" -> Seq.fill(9)(4.2),
    "all missing" -> Seq(Double.NaN, Double.NaN, Double.NaN),
    "spread" -> (0 until 500).map(i => ((i * 7919) % 263) / 7.0 - 11.0),
    // past 358 distinct values SQL's hash map holds 0.0 before -0.0
    "-0.0 beside 0.0 among 600 distinct" ->
      ((1 to 600).map(i => i / 8.0 - 30.0).filter(_ != 0.0) ++
        Seq(-0.0, 0.0, -0.0, 0.0, 0.0)))

  for ((name, xs) <- fixtures; parts <- Seq(1, 3)) {
    test(s"equals SQL percentile bit for bit: $name, $parts partitions") {
      val df = frame(xs, parts)
      probs.foreach { p =>
        assert(bits(helper(df, p)) == bits(sql(df, p)), s"probs ${p.toSeq}")
      }
    }
  }

  test("an all-missing feature proposes no edges") {
    assert(helper(frame(Seq(Double.NaN, Double.NaN), 3), edgeProbs).isEmpty)
  }

  test("per-leaf quantiles equal the SQL groupBy(leaf) percentile pass") {
    val rows = (0 until 600).map { i =>
      (i % 7, ((i * 31) % 97) / 13.0 - 3.0 + (if (i % 5 == 0) -0.0 else 0.0))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3))
      .toDF("leaf", "resid")
    val want = df.repartition(28, col("leaf")).groupBy(col("leaf"))
      .agg(percentile(col("resid"), lit(0.7)))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val got = SparseBoost.percentilesByKey(
      df.rdd.map(r => (r.getInt(0), Array(r.getDouble(1)))), 7, Array(0.7))
      .map { case (k, q) => k -> q(0) }
    assert(got.keySet == want.keySet)
    want.foreach { case (k, q) =>
      assert(bits(Array(got(k))) == bits(Array(q)), s"leaf $k")
    }
  }
}
