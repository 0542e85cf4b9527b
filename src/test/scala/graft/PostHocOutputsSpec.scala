package graft

import org.apache.spark.ml.Model
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions.fanOut
import graft.ml._
import graft.ml.GraftBoost._
import graft.ml.LinearBoost.LinearModel
import graft.ml.MultiSparse.MultiSparseModel
import graft.ml.SparseBoost.SparseModel
import graft.plans.ForestScore

/** The former per-row kernels over an assembled Vector, for the
  * oracle's UDFs (an object, so no closure drags the suite along).
  */
private object FormerPostHoc {
  def shap(m: SparseModel, numFeatures: Int, v: Vector): (Double, Seq[Double]) = {
    val (b, phi) = TreeShap.shapOne(m.trees, m.trees.map(TreeShap.expectedValue),
      m.trees.map(TreeShap.depthOf).max + 2, numFeatures, v.toArray)
    (b + m.base, phi.toSeq)
  }

  def interactions(m: SparseModel, numFeatures: Int, v: Vector): (Double, Seq[Double]) = {
    val (b, _, mat) = TreeShap.interactionsOne(m.trees, m.trees.map(TreeShap.expectedValue),
      m.trees.map(TreeShap.depthOf).max + 2, numFeatures, v.toArray)
    (b + m.base, mat.flatten.toSeq)
  }

  def shapMulticlass(m: MultiSparseModel, numFeatures: Int,
      v: Vector): (Seq[Double], Seq[Double]) = {
    val k = m.numClasses
    val byClass = Array.tabulate(k)(c =>
      m.treeInfo.indices.collect { case i if m.treeInfo(i) == c => m.trees(i) }.toArray)
    val bias = new Array[Double](k)
    val flat = new Array[Double](k * numFeatures)
    (0 until k).foreach { c =>
      val (b, phi) = TreeShap.shapOne(byClass(c), byClass(c).map(TreeShap.expectedValue),
        m.trees.map(TreeShap.depthOf).max + 2, numFeatures, v.toArray)
      bias(c) = b + m.base
      System.arraycopy(phi, 0, flat, c * numFeatures, numFeatures)
    }
    (bias.toSeq, flat.toSeq)
  }

  /** The Saabas walk over the former flattened-tree copy's arrays. */
  def contribs(m: SparseModel, numFeatures: Int, v: Vector): (Double, Seq[Double]) = {
    var bias = 0.0
    val out = new Array[Double](numFeatures)
    m.trees.foreach { t =>
      bias += t.value(0)
      var i = 0
      while (t.feature(i) >= 0) {
        val x = v(t.feature(i))
        val next =
          if (java.lang.Double.isNaN(x)) { if (t.defaultLeft(i)) t.left(i) else t.right(i) }
          else if (x <= t.thresh(i)) t.left(i) else t.right(i)
        out(t.feature(i)) += t.value(next) - t.value(i)
        i = next
      }
    }
    (bias + m.base, out.toSeq)
  }

  def linearMargin(m: LinearModel, v: Vector): Double = {
    var f = m.base + m.bias
    var j = 0
    while (j < m.weights.length) { f += m.weights(j) * v(j); j += 1 }
    f
  }

  /** The margin after each round, as the former staged walks summed it. */
  def staged(model: Model[_], v: Vector): Seq[Double] = model match {
    case m: SparseModel =>
      var margin = m.base
      m.trees.grouped(m.treesPerRound).map { group =>
        var acc = 0.0
        group.foreach(t => acc += t.valueOf(v.toArray))
        margin += acc
        margin
      }.toSeq
    case m: LinearModel =>
      val snaps = m.snapshots.get
      var margin = m.base
      snaps.indices.map { r =>
        val (w1, b1) = snaps(r)
        val (w0, b0) = if (r == 0) (new Array[Double](w1.length), 0.0) else snaps(r - 1)
        val dw = w1.indices.map(j => w1(j) - w0(j)).toArray
        var acc = b1 - b0
        var j = 0
        while (j < dw.length) { acc += dw(j) * v(j); j += 1 }
        margin += acc
        margin
      }
    case m: MultiSparseModel =>
      val k = m.numClasses
      val f = Array.fill(k)(m.base)
      (0 until m.numRounds).flatMap { r =>
        (0 until k).map { c => f(c) += m.trees(r * k + c).valueOf(v.toArray); f(c) }
      }
  }

  /** Per round: (mlogloss, merror) terms of one row of a multiclass forest. */
  def multiclassRounds(m: MultiSparseModel, v: Vector, label: Double): Seq[(Double, Double)] = {
    val k = m.numClasses
    val x = v.toArray
    val f = Array.fill(k)(m.base)
    val li = label.toInt
    (0 until m.numRounds).map { r =>
      var c = 0
      while (c < k) { f(c) += m.trees(r * k + c).valueOf(x); c += 1 }
      val p = f.clone()
      val mx = p.max
      var s = 0.0
      c = 0
      while (c < k) { p(c) = math.exp(p(c) - mx); s += p(c); c += 1 }
      var am = 0
      c = 1
      while (c < k) { if (f(c) > f(am)) am = c; c += 1 }
      (-math.log(math.max(p(li) / s, 1e-15)), if (am == li) 0.0 else 1.0)
    }
  }
}

/** The post-hoc outputs of [[graft.plans.ForestScore]] — TreeSHAP, its
  * interactions, multiclass SHAP, Saabas contributions, staged margins
  * and every [[StagedEval.history]] metric, gblinear `prediction` and
  * `proba` — against the assemble → broadcast → UDF forms they
  * replaced, kept here as the oracle: bit for bit under whole-stage
  * codegen, expression codegen and interpreted eval. The one stated
  * exception is the multiclass `mlogloss`, whose softmax is now Spark's
  * `exp` (StrictMath) where the former walk used `math.exp`.
  */
class PostHocOutputsSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  // ---- comparison, as ForestScoreSpec ---------------------------------

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

  /** A scan-backed copy, so the generated code under test scores it. */
  private def opaque(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits)
    case other => other
  }

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => r.toSeq.map(bits)).sortBy(_.head.asInstanceOf[Long])

  /** `scored` (under each codegen mode) equals `expected`: same column
    * names and types, same raw bits in every cell.
    */
  private def assertSame(expected: DataFrame, scored: => DataFrame): Unit = {
    val want = rowsOf(expected)
    val types = expected.schema.map(f => f.name -> f.dataType)
    assert(want.nonEmpty)
    modes.foreach { case (mode, conf) =>
      val (got, gotTypes) = under(conf) {
        val d = scored
        (rowsOf(d), d.schema.map(f => f.name -> f.dataType))
      }
      assert(gotTypes == types, mode)
      assert(got == want, s"$mode: rows differ from the former UDF form")
    }
  }

  private def sameBits(a: Array[Double], b: Array[Double]): Boolean =
    a.map(java.lang.Double.doubleToRawLongBits).sameElements(
      b.map(java.lang.Double.doubleToRawLongBits))

  // ---- the former forms -------------------------------------------------

  private def assembled(m: GraftBoostModel, df: DataFrame): DataFrame =
    GraftBoost.assemble(df, m.featureCols, m.imputation,
      keepNaN = m.missingStrategy == "native")

  /** The former tuple UDF's struct, split into `bias` and `out`. */
  private def split(data: DataFrame, kv: Column, out: String): DataFrame =
    data.withColumn("_kv", kv)
      .withColumn("bias", col("_kv")("_1"))
      .withColumn(out, col("_kv")("_2"))
      .drop("_kv", "features")

  private def shapOld(m: GraftBoostModel, df: DataFrame, out: String): DataFrame = {
    val nf = m.featureCols.length
    val kv = m.model match {
      case sm: SparseModel if out == "shap" =>
        udf((v: Vector) => FormerPostHoc.shap(sm, nf, v))
      case sm: SparseModel => udf((v: Vector) => FormerPostHoc.interactions(sm, nf, v))
      case mm: MultiSparseModel => udf((v: Vector) => FormerPostHoc.shapMulticlass(mm, nf, v))
    }
    split(fanOut(assembled(m, df)), kv(col("features")), out)
  }

  private def contribsOld(m: GraftBoostModel, df: DataFrame): DataFrame = {
    val sm = m.model.asInstanceOf[SparseModel]
    val nf = m.featureCols.length
    split(assembled(m, df), udf((v: Vector) => FormerPostHoc.contribs(sm, nf, v))
      .apply(col("features")), "contribs")
  }

  private def linearOld(m: GraftBoostModel, df: DataFrame, output: String): DataFrame = {
    val lm = m.model.asInstanceOf[LinearModel]
    val score =
      if (output == "prediction") udf((v: Vector) => {
        val f = FormerPostHoc.linearMargin(lm, v)
        if (lm.objective == "binary:logistic") { if (f > 0.0) 1.0 else 0.0 } else f
      })
      else udf((v: Vector) => {
        val p = 1.0 / (1.0 + math.exp(-FormerPostHoc.linearMargin(lm, v)))
        Array(1.0 - p, p)
      })
    assembled(m, df).withColumn(output, score(col("features"))).drop("features")
  }

  /** The former `StagedEval.history`: a fanned-out assembled frame,
    * one staged walk per row, then the same per-round SQL; multiclass
    * metrics from the former one-pass UDF aggregate over the caller's
    * partitions. `newLayout` fans out the slim feature-column frame the
    * projection reads instead, so the per-round sums see the rows in
    * the same partitions and order.
    */
  private def historyOld(m: GraftBoostModel, df: DataFrame, labelCol: String, metric: String,
      weightCol: Option[String], newLayout: Boolean = false): Array[Double] = {
    val rows =
      if (!newLayout) df
      else fanOut(df.select((m.featureCols ++ Seq(labelCol) ++ weightCol).distinct.map(col): _*))
    m.model match {
      case mm: MultiSparseModel =>
        val rounds = mm.numRounds
        val perRound = udf((v: Vector, label: Double) => FormerPostHoc.multiclassRounds(mm, v, label))
        val staged = assembled(m, df).withColumn("label", col(labelCol).cast("double"))
          .select(perRound(col("features"), col("label")).as("s"),
            weightCol.map(col).getOrElse(lit(1.0)).as("w"))
        val field = if (metric == "mlogloss") "_1" else "_2"
        val aggs = (0 until rounds).map(r => sum(element_at(col("s"), r + 1)(field) * col("w")))
        val row = staged.agg(sum(col("w")), aggs: _*).head()
        Array.tabulate(rounds)(r => row.getDouble(r + 1) / row.getDouble(0))
      case model =>
        val data = assembled(m, rows)
          .withColumn("label", col(labelCol).cast("double"))
          .withColumn("w", weightCol.map(col(_).cast("double")).getOrElse(lit(1.0)))
          .select(col("features"), col("label"), col("w"))
        val staged = (if (newLayout) data else fanOut(data))
          .as[(Vector, Double, Double)].flatMap { case (v, label, w) =>
            FormerPostHoc.staged(model, v).zipWithIndex.map { case (f, r) => (r + 1, label, f, w) }
          }.toDF("round", "label", "margin", "w")
        val byRound = metric match {
          case "logloss" =>
            val p = lit(1.0) / (lit(1.0) + exp(-col("margin")))
            val ll = when(col("label") === 1.0, -log(greatest(p, lit(1e-15))))
              .otherwise(-log(greatest(lit(1.0) - p, lit(1e-15))))
            staged.groupBy(col("round")).agg((sum(ll * col("w")) / sum(col("w"))).as("m"))
          case "error" =>
            val wrong = when((col("margin") > 0.0) === (col("label") === 1.0), 0.0).otherwise(1.0)
            staged.groupBy(col("round")).agg((sum(wrong * col("w")) / sum(col("w"))).as("m"))
          case "rmse" =>
            staged.groupBy(col("round")).agg(
              sqrt(sum(pow(col("margin") - col("label"), 2) * col("w")) / sum(col("w"))).as("m"))
          case "mae" =>
            staged.groupBy(col("round")).agg(
              (sum(abs(col("margin") - col("label")) * col("w")) / sum(col("w"))).as("m"))
          case "auc" => return StagedEval.aucByRound(staged)
          case "aucpr" => return StagedEval.aucprByRound(staged)
          case "aucpr-trapezoid" => return StagedEval.aucprByRound(staged, trapezoid = true)
        }
        byRound.orderBy(col("round")).collect().map(_.getAs[Double]("m"))
    }
  }

  // ---- fixtures ---------------------------------------------------------

  private val train: DataFrame = (0 until 400).map { i =>
    val x1 = (i % 20).toDouble
    val x2 = if (i % 7 == 0) -999.0 else ((i * 13) % 17).toDouble
    val x3 = ((i * 7) % 11).toDouble
    val y = if (x1 + 0.4 * x3 > 12.0) 1.0 else 0.0
    val cls = if (x1 < 7) 0.0 else if (x1 < 14) 1.0 else 2.0
    (x1, x2, x3, y, cls)
  }.toDF("x1", "x2", "x3", "y", "cls")
  private val feats = Seq("x1", "x2", "x3")

  /** Scoring rows with labels and weights; `withInvalid` adds NaN and
    * null cells, which only native forests score.
    */
  private def scoring(withInvalid: Boolean): DataFrame = opaque((0 until 90).map { i =>
    val x1 = (i % 21).toDouble
    val x2: Option[Double] =
      if (withInvalid && i % 11 == 0) None
      else if (withInvalid && i % 13 == 0) Some(Double.NaN)
      else if (i % 5 == 0) Some(-999.0)
      else Some(((i * 3) % 19).toDouble - 0.5)
    val x3 = (i * 5) % 12
    (i.toLong, x1, x2, x3, if (x1 + 0.3 * x3 > 11.0) 1.0 else 0.0,
      if (x1 < 8) 0.0 else if (x1 < 13) 1.0 else 2.0, 0.5 + (i % 4) * 0.75, s"r$i")
  }.toDF("id", "x1", "x2", "x3", "y", "cls", "w", "tag"))

  private val native = BoostParams("binary:logistic", numRound = 4, maxDepth = 3, eta = 0.3,
    missing = Some(-999.0), missingStrategy = "native")
  private lazy val binary = GraftBoost.train(train, feats, "y", native)
  private lazy val regression = GraftBoost.train(train, feats, "x1",
    native.copy(objective = "reg:squarederror"))
  private lazy val softprob = GraftBoost.train(train, feats, "cls",
    native.copy(objective = "multi:softprob", multiclassStrategy = "softprob"))
  private lazy val linearBinary = GraftBoost.train(train, feats, "y",
    BoostParams("binary:logistic", numRound = 5, booster = "gblinear", missing = Some(-999.0)))
  private lazy val linearReg = GraftBoost.train(train, feats, "x1",
    BoostParams("reg:squarederror", numRound = 5, booster = "gblinear", missing = Some(-999.0)))

  // ---- attributions -----------------------------------------------------

  test("TreeSHAP bias and shap, binary and regression") {
    val df = scoring(withInvalid = true)
    Seq(binary, regression).foreach { m =>
      assertSame(shapOld(m, df, "shap"), TreeShap.transform(m, df))
    }
  }

  test("SHAP interaction matrices") {
    val df = scoring(withInvalid = true)
    assertSame(shapOld(regression, df, "interactions"),
      TreeShap.transformInteractions(regression, df))
  }

  test("multiclass TreeSHAP: per-class bias array and K×M shap") {
    val df = scoring(withInvalid = true)
    assertSame(shapOld(softprob, df, "shap"), TreeShap.transformMulticlass(softprob, df))
  }

  test("Saabas contributions") {
    val df = scoring(withInvalid = true)
    Seq(binary, regression).foreach { m =>
      assertSame(contribsOld(m, df), Contributions.transform(m, df))
    }
  }

  // ---- gblinear scores ---------------------------------------------------

  test("gblinear prediction and proba") {
    val df = scoring(withInvalid = false)
    assertSame(linearOld(linearBinary, df, "prediction"), GraftBoost.predict(linearBinary, df))
    assertSame(linearOld(linearBinary, df, "proba"), GraftBoost.predictProba(linearBinary, df))
    assertSame(linearOld(linearReg, df, "prediction"), GraftBoost.predict(linearReg, df))
    // the estimator-facing transform reads the same projection
    val vec = opaque(assembled(linearReg, df))
    val lm = linearReg.model.asInstanceOf[LinearModel]
    assertSame(linearOld(linearReg.copy(featureCols = Seq("features")), vec, "prediction"),
      lm.transform(vec).drop("features"))
  }

  // ---- staged margins and histories --------------------------------------

  test("staged margins per row: forests, parallel trees, multiclass and gblinear") {
    val parallel = GraftBoost.train(train, feats, "x1",
      native.copy(objective = "reg:squarederror", numParallelTree = 2))
    Seq(binary, parallel, softprob, linearReg).foreach { m =>
      val df = scoring(withInvalid = m.missingStrategy == "native")
      val model = m.model
      val expected = assembled(m, df)
        .select(col("id"), udf((v: Vector) => FormerPostHoc.staged(model, v))
          .apply(col("features")).as("staged"))
      assertSame(expected, df.select(col("id"), ForestScore.overColumns(spark, model, "staged",
        feats, m.imputation, keepNaN = m.missingStrategy == "native", None).as("staged")))
    }
  }

  test("every StagedEval.history metric equals the former staged pass over the same rows") {
    val cases = Seq(
      (binary, "y", Seq("logloss", "error", "auc", "aucpr", "aucpr-trapezoid")),
      (regression, "x1", Seq("rmse", "mae")),
      (linearBinary, "y", Seq("logloss", "auc")),
      (linearReg, "x1", Seq("rmse")),
      (softprob, "cls", Seq("merror")))
    cases.foreach { case (m, label, metrics) =>
      val df = scoring(withInvalid = m.missingStrategy == "native")
      for (metric <- metrics; w <- Seq(None, Some("w"))) {
        val want = historyOld(m, df, label, metric, w, newLayout = true)
        modes.foreach { case (mode, conf) =>
          val got = under(conf)(StagedEval.history(m, df, label, metric, w))
          assert(sameBits(got, want),
            s"$metric weighted=${w.isDefined} $mode: ${got.toSeq} vs ${want.toSeq}")
        }
        // the fan-out sorts each partition by its rows' bytes before
        // dealing them out, and those bytes are now the feature columns,
        // not the assembled vector: the per-round sums of the former
        // layout associate differently, a few ulps at most
        val former = historyOld(m, df, label, metric, w)
        want.zip(former).foreach { case (a, b) =>
          assert(math.abs(a - b) <= 1e-14 * math.abs(b), s"$metric: $a vs former $b") }
      }
    }
  }

  test("multiclass mlogloss: StrictMath softmax within 1e-12 of the former walk") {
    val df = scoring(withInvalid = true)
    Seq(None, Some("w")).foreach { w =>
      val want = historyOld(softprob, df, "cls", "mlogloss", w)
      val both = StagedEval.multiclassHistory(softprob, df, "cls", w)
      assert(sameBits(both("merror"), historyOld(softprob, df, "cls", "merror", w)))
      val got = both("mlogloss")
      assert(got.length == want.length)
      got.zip(want).foreach { case (a, b) => assert(math.abs(a - b) <= 1e-12 * b, s"$a vs $b") }
    }
  }
}
