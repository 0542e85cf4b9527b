package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ml.{GraftBoost, StagedEval}
import graft.ml.GraftBoost.BoostParams
import graft.sources.Tables

/** Library-boundary sample: the full arbitrary-metric early-stopping
  * flow a downstream user runs — one fit that stops on its validation
  * AUC and keeps the best round, the post-hoc staged history of that
  * model, and scoring with it. Run with
  * `sbt "Test/runMain graft.tools.EarlyStopSample"`.
  */
object EarlyStopSample {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(cores = 8, appName = "early-stop-sample")
    val t = Tables(spark, "/root/testdata/sf0.01")
    val feats = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val df = t.lineitem
      .withColumn("label", (col("l_discount") >= 0.05).cast("double"))
      .withColumn("isVal", pmod(col("l_orderkey"), lit(4)) === 0)
    val train = df.filter(!col("isVal")).cache()
    val valid = df.filter(col("isVal")).cache()
    val (model, k, hist, trained) = StagedEval.fitWithEarlyStopping(train, valid,
      feats, "label", BoostParams(numRound = 30, maxDepth = 3), "auc",
      earlyStoppingRounds = 2)
    println(s"[sample] in-loop auc history: ${hist.map(v => f"$v%.4f").mkString(", ")}")
    println(s"[sample] best round k=$k, trained $trained of 30 rounds")
    val staged = StagedEval.history(model, valid, "label", "auc")
    println(s"[sample] staged auc of the kept rounds: ${staged.map(v => f"$v%.4f").mkString(", ")}")
    val scored = GraftBoost.predict(model, valid)
    println(s"[sample] truncated model scored rows=${scored.count()}")
    val weighted = valid.withColumn("w", when(col("label") === 1.0, 10.0).otherwise(1.0))
    val wHist = StagedEval.history(model, weighted, "label", "logloss", Some("w"))
    println(s"[sample] weighted logloss history: ${wHist.map(v => f"$v%.4f").mkString(", ")}")
    val one = org.apache.spark.ml.linalg.Vectors.dense(10.0, 40000.0, 0.06, 0.02)
    println(s"[sample] local single-vector predict = ${GraftBoost.predictLocal(model, one)}")
    spark.stop()
  }
}
