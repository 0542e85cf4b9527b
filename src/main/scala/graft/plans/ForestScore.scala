package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.Model
import org.apache.spark.ml.linalg.SQLDataTypes.VectorType
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

import graft.ml.{Contributions, TreeShap}
import graft.ml.LinearBoost.LinearModel
import graft.ml.MultiSparse.MultiSparseModel
import graft.ml.SparseBoost.SparseModel

/** Scores a boosted model ([[SparseModel]], [[MultiSparseModel]],
  * [[LinearModel]]) in one codegen'd expression — the reference's
  * per-partition batch predict (`core.py:324-337, 366-377`: one
  * `DMatrix(part)`, one `booster.predict`) as a Catalyst projection.
  *
  * The children are either the model's feature columns (cast to
  * double) or one pre-assembled `features` vector, then optionally a
  * per-row base margin. Each row fills a reused `double[]` — a null
  * cell becomes NaN, the missing marker its training-time
  * replacement — and makes one call into the output's kernel. No
  * vector is built and no UDF boundary is crossed; the scorer is
  * broadcast once per query and read once per task. The outputs:
  *  - `prediction`: the objective's response, or a multiclass
  *    forest's argmax class;
  *  - `proba`: binary (1 − p, p), or the softmax of the class margins;
  *  - `margins`: a multiclass forest's K class margins;
  *  - `contribs`: Saabas path attributions, one per feature
  *    ([[graft.ml.Contributions]]);
  *  - `shap`: exact TreeSHAP values, K×M row-major for a multiclass
  *    forest ([[graft.ml.TreeShap]]);
  *  - `interactions`: the M×M SHAP interaction matrix, row-major;
  *  - `staged`: the margin after each boosting round, K per round for
  *    a multiclass forest ([[graft.ml.StagedEval]]).
  * A gblinear model gives `prediction`, `proba` and `staged`.
  */
case class ForestScore(
    children: Seq[Expression],
    forest: Broadcast[ForestScorer],
    output: String,
    /** Feature cells among the children; 0 = one vector child. */
    cells: Int,
    withBase: Boolean
) extends Expression {

  override def dataType: DataType = ForestScore.typeOf(output)

  override def nullable: Boolean = cells == 0 && children.head.nullable

  override def checkInputDataTypes(): TypeCheckResult = {
    val inputs = if (withBase) children.init else children
    val ok = (if (cells == 0) inputs.map(_.dataType) == Seq(VectorType)
      else inputs.length == cells && inputs.forall(_.dataType == DoubleType)) &&
      (!withBase || children.last.dataType == DoubleType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "forest_score reads double feature cells or one vector, then an optional " +
      s"double base margin; got ${children.map(_.dataType).mkString(", ")}")
  }

  override def eval(input: InternalRow): Any = {
    val f = forest.value
    val x =
      if (cells == 0) {
        val v = children.head.eval(input)
        if (v == null) return null
        f.vectorCells(Array.emptyDoubleArray, v.asInstanceOf[InternalRow])
      } else Array.tabulate(cells) { j =>
        val v = children(j).eval(input)
        f.cell(j, v == null, if (v == null) 0.0 else v.asInstanceOf[Double])
      }
    val bm = if (withBase) children.last.eval(input).asInstanceOf[Double] else 0.0
    output match {
      case "prediction" => f.prediction(x, bm)
      case "proba" => f.proba(x, bm)
      case "margins" => f.margins(x, bm)
      case "contribs" => f.contribs(x, bm)
      case "shap" => f.shap(x, bm)
      case "interactions" => f.interactions(x, bm)
      case _ => f.staged(x, bm)
    }
  }

  /** The cell fill splits into helper functions when the input is wide
    * (outside whole-stage codegen), so a frame of thousands of feature
    * columns still compiles.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[ForestScorer].getName
    val bc = ctx.addReferenceObj("forestBroadcast", forest, classOf[Broadcast[_]].getName)
    val f = ctx.addMutableState(cls, "forest", v => s"$v = ($cls) $bc.value();")
    val buf = ctx.addMutableState("double[]", "forestCells",
      v => s"$v = new double[$cells];")
    val (fill, isNull) =
      if (cells == 0) {
        val v = children.head.genCode(ctx)
        (s"""${v.code}
            |if (!${v.isNull}) $buf = $f.vectorCells($buf, ${v.value});""".stripMargin,
          v.isNull.toString)
      } else {
        val fills = children.take(cells).zipWithIndex.map { case (c, j) =>
          val e = c.genCode(ctx)
          s"""${e.code}
             |$buf[$j] = $f.cell($j, ${e.isNull}, ${e.value});""".stripMargin
        }
        (ctx.splitExpressionsWithCurrentInputs(fills, funcName = "forestCells"), "false")
      }
    val bm = if (withBase) Some(children.last.genCode(ctx)) else None
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .javaType(dataType)
    ev.copy(code = code"""
      |$fill
      |${bm.map(_.code.toString).getOrElse("")}
      |boolean ${ev.isNull} = $isNull;
      |$javaType ${ev.value} = ${ForestScore.defaultOf(output)};
      |if (!${ev.isNull}) {
      |  ${ev.value} = $f.$output($buf, ${bm.map(_.value.toString).getOrElse("0.0")});
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ForestScore = copy(children = newChildren)

  override def prettyName: String = "forest_score"

  // short, so `explain` never prints the forest
  override def toString: String = s"forest_score($output, ${children.length} inputs)"
}

object ForestScore {
  import org.apache.spark.sql.GraftColumnBridge

  private[plans] def typeOf(output: String): DataType =
    if (output == "prediction") DoubleType else ArrayType(DoubleType, containsNull = false)

  private def defaultOf(output: String): String =
    if (output == "prediction") "0.0" else "null"

  private val outputs =
    Set("prediction", "proba", "margins", "contribs", "shap", "interactions", "staged")

  /** `output` of a model over the named feature columns (non
    * double numeric columns are cast). `imputation` is the model's
    * missing-marker rule (marker, replacement per column); unless
    * `keepNaN`, a null or NaN cell left after it fails the query and
    * names the column. `baseMargin` replaces the forest's base per row.
    */
  def overColumns(
      spark: SparkSession,
      model: Model[_],
      output: String,
      featureCols: Seq[String],
      imputation: Option[(Double, Map[String, Double])],
      keepNaN: Boolean,
      baseMargin: Option[Column]
  ): Column = {
    val (marker, replace) = imputation match {
      case Some((m, repl)) => (m, featureCols.map(repl).toArray)
      case None => (Double.NaN, null)
    }
    val scorer = new ForestScorer(model, output, featureCols.toArray, marker, replace,
      keepNaN, baseMargin.isDefined)
    build(spark, scorer, output, featureCols.map(c => col(c).cast(DoubleType)),
      featureCols.length, baseMargin)
  }

  /** `output` of a model over a pre-assembled vector column. */
  def overVector(
      spark: SparkSession,
      model: Model[_],
      output: String,
      vector: Column,
      baseMargin: Option[Column]
  ): Column = {
    val scorer = new ForestScorer(model, output, Array.empty, Double.NaN, null,
      keepNaN = true, baseMargin.isDefined)
    build(spark, scorer, output, Seq(vector), 0, baseMargin)
  }

  private def build(spark: SparkSession, scorer: ForestScorer, output: String,
      inputs: Seq[Column], cells: Int, baseMargin: Option[Column]): Column = {
    require(outputs(output), s"unknown forest output $output")
    val children = (inputs ++ baseMargin.map(_.cast(DoubleType)))
      .map(GraftColumnBridge.expression)
    GraftColumnBridge.column(ForestScore(children,
      spark.sparkContext.broadcast(scorer), output, cells, baseMargin.isDefined))
  }
}

/** The row side of [[ForestScore]]: the model, the cell rule of the
  * frame it reads and the arithmetic of each output. Each scorer
  * derives only the state its own output reads, so a `proba` scorer
  * ships no SHAP or staged state.
  */
final class ForestScorer(
    model: Model[_],
    output: String,
    names: Array[String],
    marker: Double,
    /** Replacement per feature cell for the missing marker; null when
      * the model has no marker.
      */
    replace: Array[Double],
    keepNaN: Boolean,
    withBase: Boolean
) extends Serializable {
  private val single = model match { case m: SparseModel => m; case _ => null }
  private val multi = model match { case m: MultiSparseModel => m; case _ => null }
  /** gblinear's weights and bias, without its per-round snapshots. */
  private val linear = model match {
    case m: LinearModel => new LinearModel(m.uid, m.weights, m.bias, m.base, m.objective)
    case _ => null
  }
  require(single != null || multi != null || linear != null,
    s"forest_score scores boosted models, not ${model.getClass.getSimpleName}")
  private val markerNaN = java.lang.Double.isNaN(marker)
  private val explainer =
    if (output == "shap" || output == "interactions") TreeShap.explainer(model) else null
  /** Features of an attribution: the named columns, or for a vector the
    * forest's highest split feature + 1.
    */
  private val numFeatures =
    if (output != "contribs" && explainer == null) 0
    else if (names.nonEmpty) names.length
    else (if (single != null) single.trees else multi.trees)
      .foldLeft(1)((w, t) => math.max(w, t.feature.max + 1))
  /** gblinear's per-round steps from its snapshots: (Δbias, Δweights…). */
  private val linearSteps = model match {
    case m: LinearModel if output == "staged" =>
      val snaps = m.snapshots.get
      Array.tabulate(snaps.length) { r =>
        val (w1, b1) = snaps(r)
        val (w0, b0) = if (r == 0) (new Array[Double](w1.length), 0.0) else snaps(r - 1)
        (b1 - b0) +: Array.tabulate(w1.length)(j => w1(j) - w0(j))
      }
    case _ => null
  }

  /** Feature cell j of a row: null → NaN, the marker → its replacement
    * (matched by `==`, or `isNaN` for a NaN marker); without `keepNaN`
    * a null or NaN left fails the row.
    */
  def cell(j: Int, isNull: Boolean, x: Double): Double =
    if (isNull) {
      if (keepNaN) Double.NaN else throw invalid(j, "null")
    } else {
      val y =
        if (replace != null && (if (markerNaN) java.lang.Double.isNaN(x) else x == marker))
          replace(j)
        else x
      if (!keepNaN && java.lang.Double.isNaN(y)) throw invalid(j, "NaN")
      y
    }

  private def invalid(j: Int, what: String): IllegalArgumentException =
    new IllegalArgumentException(s"feature column '${names(j)}' holds $what after " +
      "the missing-value rule; only missingStrategy \"native\" scores missing values " +
      "(or set `missing` to the marker the column uses)")

  /** A VectorUDT row's values in `reuse` (reallocated on a size change). */
  def vectorCells(reuse: Array[Double], v: InternalRow): Array[Double] = {
    val values = v.getArray(3)
    val dense = v.getByte(0) == 1
    val n = if (dense) values.numElements() else v.getInt(1)
    val x = if (reuse.length == n) reuse else new Array[Double](n)
    if (dense) {
      var i = 0
      while (i < n) { x(i) = values.getDouble(i); i += 1 }
    } else {
      java.util.Arrays.fill(x, 0.0)
      val idx = v.getArray(2)
      var k = 0
      while (k < idx.numElements()) { x(idx.getInt(k)) = values.getDouble(k); k += 1 }
    }
    x
  }

  private def margin(x: Array[Double], bm: Double): Double =
    if (withBase) single.marginWithBase(x, bm) else single.marginOf(x)

  /** The objective's response (single forest) or the first class of
    * maximum margin under SQL ordering, NaN largest — what
    * `array_position(m, array_max(m)) − 1` returned.
    */
  def prediction(x: Array[Double], bm: Double): Double =
    if (single != null) single.link(margin(x, bm))
    else if (linear != null) linear.predictOne(x)
    else {
      val m = multi.marginsOf(x)
      var best = 0
      var k = 1
      while (k < m.length) {
        if (SQLOrderingUtil.compareDoubles(m(k), m(best)) > 0) best = k
        k += 1
      }
      best.toDouble
    }

  /** Binary (a forest or gblinear): (1 − p, p) with p = σ(margin).
    * Multiclass: the SQL chain `exp(m − array_max(m))`, summed left to
    * right from 0.0, then divided — StrictMath, as Spark's `exp`.
    */
  def proba(x: Array[Double], bm: Double): ArrayData =
    if (single != null || linear != null) {
      val p = if (single != null) single.probOfMargin(margin(x, bm)) else linear.probOf(x)
      UnsafeArrayData.fromPrimitiveArray(Array(1.0 - p, p))
    } else {
      val m = multi.marginsOf(x)
      var mx = m(0)
      var k = 1
      while (k < m.length) {
        if (SQLOrderingUtil.compareDoubles(m(k), mx) > 0) mx = m(k)
        k += 1
      }
      var s = 0.0
      k = 0
      while (k < m.length) { m(k) = StrictMath.exp(m(k) - mx); s += m(k); k += 1 }
      k = 0
      while (k < m.length) { m(k) = m(k) / s; k += 1 }
      UnsafeArrayData.fromPrimitiveArray(m)
    }

  def margins(x: Array[Double], bm: Double): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(multi.marginsOf(x))

  /** Saabas contributions of a single-margin forest. */
  def contribs(x: Array[Double], bm: Double): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Contributions.contribsOne(single.trees, numFeatures, x))

  def shap(x: Array[Double], bm: Double): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(explainer.shap(x, numFeatures))

  def interactions(x: Array[Double], bm: Double): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(explainer.interactions(x, numFeatures))

  /** The margin after each round. A forest adds each round's trees
    * (`treesPerRound` of them, summed apart first); a multiclass
    * forest adds round r's K class trees to their class margins, in
    * round-major layout; gblinear adds Δbias + Δw·x.
    */
  def staged(x: Array[Double], bm: Double): ArrayData = {
    val out =
      if (single != null) {
        val trees = single.trees
        val t = single.treesPerRound
        val margins = new Array[Double]((trees.length + t - 1) / t)
        var f = single.base
        var i = 0
        var r = 0
        while (r < margins.length) {
          val end = math.min(i + t, trees.length)
          var acc = 0.0
          while (i < end) { acc += trees(i).valueOf(x); i += 1 }
          f += acc
          margins(r) = f
          r += 1
        }
        margins
      } else if (multi != null) {
        val f = Array.fill(multi.numClasses)(multi.base)
        val margins = new Array[Double](multi.trees.length)
        var i = 0
        while (i < margins.length) {
          val k = i % f.length
          f(k) += multi.trees(i).valueOf(x)
          margins(i) = f(k)
          i += 1
        }
        margins
      } else {
        val margins = new Array[Double](linearSteps.length)
        var f = linear.base
        var r = 0
        while (r < margins.length) {
          val step = linearSteps(r)
          var acc = step(0)
          var j = 1
          while (j < step.length) { acc += step(j) * x(j - 1); j += 1 }
          f += acc
          margins(r) = f
          r += 1
        }
        margins
      }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
