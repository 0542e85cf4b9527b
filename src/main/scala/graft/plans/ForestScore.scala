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

import graft.ml.MultiSparse.MultiSparseModel
import graft.ml.SparseBoost.SparseModel

/** Scores a native forest ([[SparseModel]], [[MultiSparseModel]]) in
  * one codegen'd expression — the reference's per-partition batch
  * predict (`core.py:324-337, 366-377`: one `DMatrix(part)`, one
  * `booster.predict`) as a Catalyst projection.
  *
  * The children are either the model's feature columns (cast to
  * double) or one pre-assembled `features` vector, then optionally a
  * per-row base margin. Each row fills a reused `double[]` — a null
  * cell becomes NaN, the missing marker its training-time
  * replacement — and makes one call into the model's own walk, which
  * returns `prediction`, `proba` or `margins`. No vector is built and
  * no UDF boundary is crossed; the forest is broadcast once per query
  * and read once per task.
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
      case _ => f.margins(x, bm)
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

  /** `output` of a native forest over the named feature columns (non
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
    val scorer = new ForestScorer(model, featureCols.toArray, marker, replace,
      keepNaN, baseMargin.isDefined)
    build(spark, scorer, output, featureCols.map(c => col(c).cast(DoubleType)),
      featureCols.length, baseMargin)
  }

  /** `output` of a native forest over a pre-assembled vector column. */
  def overVector(
      spark: SparkSession,
      model: Model[_],
      output: String,
      vector: Column,
      baseMargin: Option[Column]
  ): Column = {
    val scorer = new ForestScorer(model, Array.empty, Double.NaN, null,
      keepNaN = true, baseMargin.isDefined)
    build(spark, scorer, output, Seq(vector), 0, baseMargin)
  }

  private def build(spark: SparkSession, scorer: ForestScorer, output: String,
      inputs: Seq[Column], cells: Int, baseMargin: Option[Column]): Column = {
    require(Set("prediction", "proba", "margins")(output), s"unknown forest output $output")
    val children = (inputs ++ baseMargin.map(_.cast(DoubleType)))
      .map(GraftColumnBridge.expression)
    GraftColumnBridge.column(ForestScore(children,
      spark.sparkContext.broadcast(scorer), output, cells, baseMargin.isDefined))
  }
}

/** The row side of [[ForestScore]]: the forest, the cell rule of the
  * frame it reads and the arithmetic of each output.
  */
final class ForestScorer(
    model: Model[_],
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
  require(single != null || multi != null,
    s"forest_score scores native forests, not ${model.getClass.getSimpleName}")
  private val markerNaN = java.lang.Double.isNaN(marker)

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

  /** Binary: (1 − p, p) with p = σ(margin). Softprob: the SQL chain
    * `exp(m − array_max(m))`, summed left to right from 0.0, then
    * divided — StrictMath, as Spark's `exp`.
    */
  def proba(x: Array[Double], bm: Double): ArrayData =
    if (single != null) {
      val p = single.probOfMargin(margin(x, bm))
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
}
