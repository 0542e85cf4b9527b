package graft

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml._
import graft.ml.GraftBoost._
import graft.ml.MultiSparse.MultiSparseModel
import graft.ml.SparseBoost.{SparseModel, SparseTree}

/** The former per-row walk over a Vector, for the oracle's UDFs. */
private object FormerWalk {
  def leafOld(t: SparseTree, v: Vector): Int = {
    var i = 0
    while (t.feature(i) >= 0) {
      val x = v(t.feature(i))
      i = if (java.lang.Double.isNaN(x)) { if (t.defaultLeft(i)) t.left(i) else t.right(i) }
        else if (t.cats != null && t.cats(i) != null) {
          if (x >= 0.0 && t.cats(i).contains(x.toInt)) t.right(i) else t.left(i)
        }
        else if (x <= t.thresh(i)) t.left(i) else t.right(i)
    }
    i
  }

  def marginOld(m: SparseModel, v: Vector): Double = {
    var f = m.base
    m.trees.foreach(t => f += t.value(leafOld(t, v)))
    f
  }

  def marginsOld(m: MultiSparseModel, v: Vector): Array[Double] = {
    val f = Array.fill(m.numClasses)(m.base)
    m.trees.indices.foreach(i => f(m.treeInfo(i)) += m.trees(i).value(leafOld(m.trees(i), v)))
    f
  }
}

/** [[graft.plans.ForestScore]] against the per-row Vector UDFs it
  * replaced, kept here as the oracle: every output column, bit for bit,
  * under whole-stage codegen, expression codegen and interpreted eval.
  */
class ForestScoreSpec extends AnyFunSuite {
  import FormerWalk._
  import TestSession._
  import spark.implicits._

  // ---- the former scoring path: a withColumn imputation fold, a
  // VectorAssembler, then a Vector UDF over the forest ----------------

  private def assembleOld(df: DataFrame, featureCols: Seq[String],
      imputation: Option[(Double, Map[String, Double])], keepNaN: Boolean): DataFrame = {
    if (featureCols == Seq("features")) return df
    val cleaned = imputation match {
      case None => df
      case Some((marker, repl)) =>
        featureCols.foldLeft(df) { case (d, c) =>
          val isMissing = if (marker.isNaN) isnan(col(c)) else col(c) === marker
          d.withColumn(c, when(isMissing, repl(c)).otherwise(col(c)))
        }
    }
    new VectorAssembler().setInputCols(featureCols.toArray).setOutputCol("features")
      .setHandleInvalid(if (keepNaN) "keep" else "error").transform(cleaned)
  }

  private def marginColumnOld(mc: String): Column = {
    val c = col(mc).cast("double")
    when(c.isNull || isnan(c), raise_error(lit(s"base_margin column '$mc' is null/NaN")))
      .otherwise(c)
  }

  private def oracle(model: GraftBoostModel, df: DataFrame, output: String,
      marginCol: Option[String] = None): DataFrame = {
    val data = assembleOld(df, model.featureCols, model.imputation,
      model.missingStrategy == "native")
    val scored = (model.model, marginCol) match {
      case (m: SparseModel, None) if output == "prediction" =>
        data.withColumn(output, udf((v: Vector) => m.link(marginOld(m, v)))
          .apply(col("features")))
      case (m: SparseModel, Some(mc)) if output == "prediction" =>
        data.withColumn(output, udf((v: Vector, bm: Double) =>
          m.link(marginOld(m, v) - m.base + bm)).apply(col("features"), marginColumnOld(mc)))
      case (m: SparseModel, None) =>
        data.withColumn(output, udf((v: Vector) => {
          val p = 1.0 / (1.0 + math.exp(-marginOld(m, v)))
          Array(1.0 - p, p)
        }).apply(col("features")))
      case (m: SparseModel, Some(mc)) =>
        data.withColumn(output, udf((v: Vector, bm: Double) => {
          val p = 1.0 / (1.0 + math.exp(-(marginOld(m, v) - m.base + bm)))
          Array(1.0 - p, p)
        }).apply(col("features"), marginColumnOld(mc)))
      case (m: MultiSparseModel, _) =>
        val withM = data.withColumn("margins",
          udf((v: Vector) => marginsOld(m, v)).apply(col("features")))
        output match {
          case "margins" => withM
          case "prediction" => withM.withColumn("prediction",
            (array_position(col("margins"), array_max(col("margins"))) - 1L)
              .cast("double")).drop("margins")
          case _ => withM
            .withColumn("ex", transform(col("margins"),
              x => exp(x - array_max(col("margins")))))
            .withColumn("exs", aggregate(col("ex"), lit(0.0), (a, y) => a + y))
            .withColumn("proba", transform(col("ex"), x => x / col("exs")))
            .drop("margins", "ex", "exs")
        }
    }
    scored.drop("features")
  }

  // ---- comparison ----------------------------------------------------

  private val modes = Seq(
    "whole-stage codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true"),
    "expression codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def under[T](conf: Seq[(String, String)])(body: => T): T = {
    val before = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A scan-backed copy: a local relation would be scored on the driver
    * by the optimizer, never by the generated code under test.
    */
  private def opaque(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits)
    case other => other
  }

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => r.toSeq.map(bits)).sortBy(_.head.asInstanceOf[Long])

  /** `scored` (under each codegen mode) equals `expected`: same columns,
    * same raw bits in every cell.
    */
  private def assertSame(expected: DataFrame, scored: => DataFrame): Unit = {
    val want = rowsOf(expected)
    assert(want.nonEmpty)
    modes.foreach { case (mode, conf) =>
      val (cols, got) = under(conf) { val d = scored; (d.columns.toSeq, rowsOf(d)) }
      assert(cols == expected.columns.toSeq, mode)
      assert(got == want, s"$mode: rows differ from the former UDF scoring")
    }
  }

  // ---- fixtures --------------------------------------------------------

  private val train: DataFrame = (0 until 400).map { i =>
    val x1 = (i % 20).toDouble
    val x2 = if (i % 7 == 0) -999.0 else ((i * 13) % 17).toDouble
    val x3 = ((i * 7) % 11).toDouble
    val y = if (x1 + 0.4 * x3 > 12.0) 1.0 else 0.0
    val cls = if (x1 < 7) 0.0 else if (x1 < 14) 1.0 else 2.0
    (x1, x2, x3, y, cls, (i % 5).toDouble, 0.1 * (i % 9) - 0.4)
  }.toDF("x1", "x2", "x3", "y", "cls", "cnt", "bm")
  private val feats = Seq("x1", "x2", "x3")

  /** Scoring rows: the marker, NaN and null cells, an integer column. */
  private def scoring(withInvalid: Boolean): DataFrame = opaque((0 until 60).map { i =>
    val x2: Option[Double] =
      if (withInvalid && i % 11 == 0) None
      else if (withInvalid && i % 13 == 0) Some(Double.NaN)
      else if (i % 5 == 0) Some(-999.0)
      else Some(((i * 3) % 19).toDouble - 0.5)
    (i.toLong, (i % 21).toDouble, x2, (i * 5) % 12, 0.05 * (i % 7) - 0.2, s"r$i")
  }.toDF("id", "x1", "x2", "x3", "bm", "tag"))

  private val nativeBinary = BoostParams("binary:logistic", numRound = 3, maxDepth = 3,
    eta = 0.3, missing = Some(-999.0), missingStrategy = "native")

  test("binary:logistic native: marker, NaN and null cells") {
    val m = GraftBoost.train(train, feats, "y", nativeBinary)
    val df = scoring(withInvalid = true)
    assertSame(oracle(m, df, "proba"), GraftBoost.predictProba(m, df))
    assertSame(oracle(m, df, "prediction"), GraftBoost.predict(m, df))
  }

  test("reg:squarederror native") {
    val m = GraftBoost.train(train, feats, "x1",
      nativeBinary.copy(objective = "reg:squarederror"))
    val df = scoring(withInvalid = true)
    assertSame(oracle(m, df, "prediction"), GraftBoost.predict(m, df))
  }

  test("count:poisson under impute; a NaN or null left after imputation names its column") {
    val m = GraftBoost.train(train, feats, "cnt",
      BoostParams("count:poisson", numRound = 3, maxDepth = 3, missing = Some(-999.0)))
    assert(m.missingStrategy == "impute" && m.model.isInstanceOf[SparseModel])
    val df = scoring(withInvalid = false)
    assertSame(oracle(m, df, "prediction"), GraftBoost.predict(m, df))
    Seq(Some(Double.NaN) -> "NaN", None -> "null").foreach { case (cell, what) =>
      val bad = opaque(Seq((1L, 1.0, cell, 2)).toDF("id", "x1", "x2", "x3"))
      val e = intercept[Exception](GraftBoost.predict(m, bad).collect())
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
      assert(msg.contains("'x2'") && msg.contains(what), msg)
    }
  }

  test("multi:softprob: prediction, proba and the transform's margins") {
    val m = GraftBoost.train(train, feats, "cls", BoostParams("multi:softprob",
      numRound = 3, maxDepth = 3, missing = Some(-999.0), multiclassStrategy = "softprob"))
    val mm = m.model.asInstanceOf[MultiSparseModel]
    val df = scoring(withInvalid = false)
    assertSame(oracle(m, df, "proba"), GraftBoost.predictProba(m, df))
    assertSame(oracle(m, df, "prediction"), GraftBoost.predict(m, df))
    val assembled = opaque(GraftBoost.assemble(df, feats, m.imputation))
    assertSame(oracle(m.copy(featureCols = Seq("features")), assembled, "margins")
      .withColumn("prediction", (array_position(col("margins"), array_max(col("margins")))
        - 1L).cast("double")),
      mm.transform(assembled).drop("features"))
  }

  test("base_margin: the per-row margin replaces the base") {
    val m = GraftBoost.train(train, feats, "y", nativeBinary, marginCol = Some("bm"))
    val df = scoring(withInvalid = true)
    assertSame(oracle(m, df, "proba", Some("bm")),
      GraftBoost.predictProba(m, df, marginCol = Some("bm")))
    assertSame(oracle(m, df, "prediction", Some("bm")),
      GraftBoost.predict(m, df, marginCol = Some("bm")))
  }

  test("categorical XgbJson forest") {
    val doc = """
      {"learner":{"attributes":{},
        "feature_names":["f0","f1"],"feature_types":["c","q"],
        "gradient_booster":{"model":{
            "gbtree_model_param":{"num_trees":"1","num_parallel_tree":"1"},
            "tree_info":[0],
            "trees":[{
              "base_weights":[0.1,-1.0,0.4,1.5,2.0],
              "categories":[1,3],
              "categories_nodes":[0],
              "categories_segments":[0],
              "categories_sizes":[2],
              "default_left":[1,0,0,0,0],
              "id":0,
              "left_children":[1,-1,3,-1,-1],
              "right_children":[2,-1,4,-1,-1],
              "loss_changes":[5.0,0.0,2.0,0.0,0.0],
              "parents":[2147483647,0,0,2,2],
              "split_conditions":[0.0,-1.0,0.5,1.5,2.0],
              "split_indices":[0,0,1,0,0],
              "split_type":[1,0,0,0,0],
              "sum_hessian":[10.0,6.0,4.0,2.0,2.0],
              "tree_param":{"num_deleted":"0","num_feature":"2",
                "num_nodes":"5","size_leaf_vector":"1"}}]},
          "name":"gbtree"},
        "learner_model_param":{"base_score":"0.5","boost_from_average":"1",
          "num_class":"0","num_feature":"2","num_target":"1"},
        "objective":{"name":"reg:squarederror"}},
       "version":[2,0,0]}"""
    val m = XgbJson.importModel(doc)
    assert(m.model.asInstanceOf[SparseModel].trees.head.hasCategorical)
    val df = opaque(Seq[(Long, Double, Double)]((1L, 1.0, 0.2), (2L, 3.0, 0.9),
      (3L, 2.0, 0.1), (4L, -1.0, 0.7), (5L, Double.NaN, 0.3), (6L, 1.5, Double.NaN),
      (7L, 3.0, -0.0)).toDF("id", "f0", "f1"))
    assertSame(oracle(m, df, "prediction"), GraftBoost.predict(m, df))
  }

  test("a pre-assembled dense or sparse features vector") {
    val vec = train.select(
      array_to_vector(array(col("x1"), col("x2"), col("x3"))).as("features"), col("y"))
    val m = GraftBoost.train(vec, Seq("features"), "y", nativeBinary.copy(missing = None))
    val df = opaque(Seq(
      (1L, Vectors.dense(3.0, 4.0, 9.0)),
      (2L, Vectors.sparse(3, Array(2), Array(7.0))),
      (3L, Vectors.dense(15.0, Double.NaN, 2.0)),
      (4L, Vectors.sparse(3, Array(0, 1), Array(18.0, -999.0))),
      (5L, Vectors.sparse(3, Array.empty[Int], Array.empty[Double]))
    ).toDF("id", "features"))
    assertSame(oracle(m, df, "proba"), GraftBoost.predictProba(m, df))
    assertSame(oracle(m, df, "prediction"), GraftBoost.predict(m, df))
    assertSame(oracle(m, df, "prediction"),
      m.model.asInstanceOf[SparseModel].transform(df).drop("features"))
  }

  test("a frame wider than one generated method still compiles") {
    val n = 1500
    val tree = SparseTree(Array(n - 1, -1, -1), Array(2.5, 0.0, 0.0), Array(1, -1, -1),
      Array(2, -1, -1), Array(true, false, false), Array(0.0, -1.0, 2.0), Array(3.0, 1.0, 2.0))
    val m = GraftBoostModel(new SparseModel("wide", Array(tree), 0.5, "reg:squarederror",
      new Array[Double](n)), (0 until n).map(j => s"c$j"), "reg:squarederror", 0, Map.empty,
      None, "native")
    val df = spark.range(8).select(col("id") +:
      (0 until n).map(j => ((col("id") + j) % 5).cast("double").as(s"c$j")): _*)
    val expected = (0L until 8L).map(i => i -> (if ((i + n - 1) % 5 <= 2.5) -0.5 else 2.5)).toMap
    Seq("true", "false").foreach { wsc =>
      val got = under(Seq("spark.sql.codegen.wholeStage" -> wsc,
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")) {
        GraftBoost.predict(m, df).select("id", "prediction").collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      }
      assert(got == expected, s"wholeStage=$wsc")
    }
  }

  test("explain names the expression, not the forest") {
    val m = GraftBoost.train(train, feats, "y", nativeBinary)
    val plan = GraftBoost.predictProba(m, scoring(withInvalid = false))
      .queryExecution.executedPlan.toString
    assert(plan.contains("forest_score(proba") && plan.length < 4000, plan)
  }
}
