package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftBridge.{column, expression}
import org.apache.spark.sql.types._

/** Batched hyperplane-projection kernels (top-level object → static
  * forwarders, callable directly from generated Java — same pattern as
  * [[SetOps]]).
  *
  * WHY one expression instead of N `graft_dot` columns: building the LSH
  * band / IVF score columns as `array(dot(v, lit(p1)), dot(v, lit(p2)), …)`
  * plants 16–32 dot nodes × 64-double literals on EACH side of the
  * candidate join — hundreds of expression nodes that AQE re-canonicalizes
  * and re-compiles at every stage boundary. Measured on q54's candidate
  * join (sf0.1, 104k candidates): 2.2 s with AQE on vs 0.14 s with AQE off
  * on identical data — the entire gap is driver-side plan churn, not
  * executor work. Collapsing the projection matrix into ONE node with ONE
  * flattened literal keeps AQE (wanted at scale for skew splits) and
  * removes the churn.
  */
object LshOps {

  /** scores[p] = ⟨vec, plane_p⟩ for planes flattened row-major with
    * dim = vec length. Accumulation is sequential in element order —
    * bit-identical to the per-plane `graft_dot` columns it replaces. Null
    * element / empty vec / length mismatch → null (SQL semantics).
    */
  def scores(vec: ArrayData, planes: ArrayData): ArrayData = {
    val dim = vec.numElements()
    if (dim == 0) return null
    val total = planes.numElements()
    if (total % dim != 0) return null
    val nPlanes = total / dim
    val vv = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (vec.isNullAt(i)) return null
      vv(i) = vec.getDouble(i)
      i += 1
    }
    val out = new Array[Double](nPlanes)
    var p = 0
    while (p < nPlanes) {
      var s = 0.0
      var j = 0
      val off = p * dim
      while (j < dim) { s += vv(j) * planes.getDouble(off + j); j += 1 }
      out(p) = s
      p += 1
    }
    new GenericArrayData(out)
  }

  /** bands[b] packs the sign bits (score ≥ 0) of planes b·rows … b·rows+rows−1,
    * rows = nPlanes / nBands — the Charikar LSH banding layout, identical
    * bit order to the unfused `when(dot ≥ 0, 1) * (1 << ri)` columns.
    */
  def bands(vec: ArrayData, planes: ArrayData, nBands: Int): ArrayData = {
    val sc = scores(vec, planes)
    if (sc == null) return null
    val nPlanes = sc.numElements()
    if (nBands <= 0 || nPlanes % nBands != 0) return null
    val rows = nPlanes / nBands
    val out = new Array[Int](nBands)
    var b = 0
    while (b < nBands) {
      var v = 0
      var r = 0
      while (r < rows) {
        if (sc.getDouble(b * rows + r) >= 0) v |= 1 << r
        r += 1
      }
      out(b) = v
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** `graft_hp_scores(vec, planes_flat) -> array<double>`: all hyperplane /
  * centroid projections of one vector in a single codegen'd node. `planes`
  * is the flattened row-major projection matrix — in practice a plan-time
  * literal, so the whole matrix is ONE expression child.
  */
case class HyperplaneScores(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_hp_scores"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two array<double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(v: Any, p: Any): Any =
    LshOps.scores(v.asInstanceOf[ArrayData], p.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, p) => {
      s"""
         |${ev.value} = graft.functions.LshOps.scores($v, $p);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_hp_bands(vec, planes_flat, n_bands) -> array<int>`: banded LSH
  * signature of one vector in a single codegen'd node (sign bits of the
  * projections, packed per band).
  */
case class HyperplaneBands(first: Expression, second: Expression,
                           third: Expression) extends TernaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_hp_bands"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def arr(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (arr(first.dataType) && arr(second.dataType) &&
        third.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (array<double>, array<double>, int), got " +
        s"${first.dataType} / ${second.dataType} / ${third.dataType}")
  }

  override def nullSafeEval(v: Any, p: Any, nb: Any): Any =
    LshOps.bands(v.asInstanceOf[ArrayData], p.asInstanceOf[ArrayData],
      nb.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, p, nb) => {
      s"""
         |${ev.value} = graft.functions.LshOps.bands($v, $p, $nb);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object HyperplaneExprs {

  def hpScores(vec: Column, planesFlat: Column): Column =
    column(HyperplaneScores(expression(vec), expression(planesFlat)))

  def hpBands(vec: Column, planesFlat: Column, nBands: Column): Column =
    column(HyperplaneBands(expression(vec), expression(planesFlat), expression(nBands)))
}
