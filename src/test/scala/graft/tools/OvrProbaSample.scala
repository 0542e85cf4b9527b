package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ml.GraftXGBClassifier
import graft.functions.GraftFunctions.toDoubleArray
import org.apache.spark.ml.functions.array_to_vector

/** Library-boundary sample: one-vs-rest multiclass boosting (the
  * default `multiclassStrategy`, K logistic channels on the round
  * loop) with predict_proba over the real embeddings table. Run with
  * `sbt "Test/runMain graft.tools.OvrProbaSample"`.
  */
object OvrProbaSample {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(cores = 8, appName = "ovr-proba-sample")
    val t = graft.sources.Tables(spark, "/root/testdata/sf0.001")
    val df = t.embeddings.filter(col("label") < 3)
      .select(array_to_vector(toDoubleArray(col("embedding"))).as("features"),
        col("label").cast("double").as("label"))
    val clf = new GraftXGBClassifier().setNEstimators(3).setMaxDepth(2)
    clf.fit(df, Seq("features"), "label")
    println(s"[sample] numClasses=${clf.numClasses} objective rewritten")
    val probaRows = clf.predictProba(df).select("proba").limit(3).collect()
    probaRows.foreach { r =>
      val p = r.getSeq[Double](0)
      println(f"[sample] proba=${p.map(v => f"$v%.3f").mkString(",")} sum=${p.sum}%.6f")
    }
    spark.stop()
  }
}
