package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftBridge.{column, expression}
import org.apache.spark.sql.types._

/** Product-quantization code assignment as ONE kernel (top-level object →
  * static forwarders, the [[LshOps]] pattern).
  *
  * WHY a kernel and not expression-inlined codebooks: the inlined form
  * builds m·k struct literals × subDim-term folds PER ROW-PROJECTION —
  * at the PQ-paper 8-bit setting (k = 256) that is ~10⁵ expression nodes,
  * past whole-stage codegen's method limits, with Catalyst re-analyzing
  * the tree every Lloyd round. Here the codebook is DATA (one flattened
  * literal child), the argmin is a tight loop, and the node count is
  * constant in m·k — same reasoning as [[LshOps.scores]], which measured
  * the inlined form's AQE plan churn at 15× on q54.
  */
object PqOps {

  /** Spark `round(x, 6)` (HALF_UP on the decimal repr) — the [[graft.Det]]
    * rounding the expression-inlined argmin applied, replicated exactly so
    * kernel and inlined assignments tie-break identically.
    */
  private def round6(x: Double): Double =
    // Spark's RoundBase passes NaN/Infinity through unchanged;
    // BigDecimal.valueOf would throw NumberFormatException on them
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** codes[s] = argmin over c of ‖vec[s·subDim …] − codebook[(s·k+c)·subDim …]‖²
    * (distance ROUND(,6), ties → lowest c). `codebook` is flattened
    * (subspace, code, dim)-major with uniform `k` codes per subspace —
    * pad shrunken codebooks by repeating a real center; a duplicate at a
    * higher index can never win the strict-< argmin. Null element /
    * empty vec / geometry mismatch → null.
    */
  def encode(vec: ArrayData, codebook: ArrayData, m: Int, k: Int): ArrayData = {
    val dim = vec.numElements()
    if (dim == 0 || m <= 0 || k <= 0 || dim % m != 0) return null
    val subDim = dim / m
    // Long arithmetic: on the SQL surface m and k are arbitrary ints, and
    // an Int-wrapped product could alias the real length and let the code
    // loop read past the array
    if (codebook.numElements().toLong != m.toLong * k * subDim) return null
    val vv = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (vec.isNullAt(i)) return null
      vv(i) = vec.getDouble(i)
      i += 1
    }
    i = 0
    val nCb = codebook.numElements()
    while (i < nCb) { // null codebook slot: null result, never a phantom 0.0 center
      if (codebook.isNullAt(i)) return null
      i += 1
    }
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < k) {
        var d = 0.0
        val base = (s * k + c) * subDim
        val voff = s * subDim
        var j = 0
        while (j < subDim) {
          val diff = vv(voff + j) - codebook.getDouble(base + j)
          d += diff * diff
          j += 1
        }
        d = round6(d)
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** `graft_pq_encode(vec, codebook_flat, m, k) -> array<int>`: all m PQ
  * code assignments of one vector in a single codegen'd node.
  */
case class PqEncode(first: Expression, second: Expression,
                    third: Expression, fourth: Expression)
    extends QuaternaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def arr(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (arr(first.dataType) && arr(second.dataType) &&
        third.dataType == IntegerType && fourth.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (array<double>, array<double>, int, int), got " +
        s"${first.dataType} / ${second.dataType} / ${third.dataType} / ${fourth.dataType}")
  }

  override def nullSafeEval(v: Any, cb: Any, m: Any, k: Any): Any =
    PqOps.encode(v.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData],
      m.asInstanceOf[Int], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cb, m, k) => {
      s"""
         |${ev.value} = graft.functions.PqOps.encode($v, $cb, $m, $k);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond,
      third = newThird, fourth = newFourth)
}

object PqExprs {

  def pqEncode(vec: Column, codebookFlat: Column, m: Column, k: Column): Column =
    column(PqEncode(expression(vec), expression(codebookFlat), expression(m), expression(k)))
}
