package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Set-semantics kernels shared between interpreted eval and generated code.
  *
  * A TOP-LEVEL object with no companion class, so scalac emits static
  * forwarders — generated Java calls `graft.functions.SetOps.jaccard(a, b)`
  * directly, keeping the whole row inside whole-stage codegen (one static
  * call per row; no interpreted lambda per ELEMENT like the
  * aggregate/array_intersect higher-order formulation).
  */
object SetOps {
  /** Distinct word n-gram shingles, space-joined, first-occurrence order
    * (identical strings and SET to the `transform`/`array_distinct` HOF
    * formulation; null tokens are skipped inside a shingle, matching
    * concat_ws). Fewer than n tokens → empty array.
    */
  def shingles(tokens: ArrayData, n: Int): ArrayData = {
    if (n <= 0) return null
    val nt = tokens.numElements()
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= nt - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        parts(j) = tokens.getUTF8String(i + j) // null-safe: concatWs skips nulls
        j += 1
      }
      seen.add(UTF8String.concatWs(UTF8String.fromString(" "), parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size())))
  }

  /** Exact set Jaccard |A∩B| / |A∪B| over two string arrays. Inputs are
    * treated as SETS (duplicates collapse; null elements ignored), matching
    * the library's `array_distinct`-tokenized pipeline, so the SQL surface
    * agrees with [[graft.ops.SimilarityJoin]] bit for bit. Returns NaN when
    * the union is empty (both sets empty) — mapped to SQL NULL by the
    * expression, since J(∅, ∅) is undefined.
    */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val sa = new java.util.HashSet[UTF8String]()
    var i = 0
    val na = a.numElements()
    while (i < na) {
      if (!a.isNullAt(i)) sa.add(a.getUTF8String(i))
      i += 1
    }
    val sb = new java.util.HashSet[UTF8String]()
    var j = 0
    val nb = b.numElements()
    while (j < nb) {
      if (!b.isNullAt(j)) sb.add(b.getUTF8String(j))
      j += 1
    }
    var inter = 0
    val it = sb.iterator()
    while (it.hasNext) if (sa.contains(it.next())) inter += 1
    val union = sa.size() + sb.size() - inter
    if (union == 0) Double.NaN else inter.toDouble / union.toDouble
  }
}

/** `graft_shingles(tokens, n) -> array<string>` — distinct word n-gram
  * shingles (space-joined, first-occurrence order), one codegen'd pass.
  * The `transform(sequence(…), i -> concat_ws(' ', slice(toks, i, n)))`
  * formulation runs its lambda INTERPRETED per shingle — ~4.3M closure
  * dispatches on the sf0.1 documents corpus (measured as the dominant cost
  * of the q60 containment join); this kernel is one static call per row.
  * Fewer than `n` tokens → empty array (matching the guarded HOF form).
  */
case class WordShingles(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (array<string>, int), got $l / $r")
    }

  override def nullSafeEval(toks: Any, n: Any): Any =
    SetOps.shingles(toks.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n) => {
      s"""
         |${ev.value} = graft.functions.SetOps.shingles($t, $n);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_jaccard(array<string>, array<string>) -> double` — the SQL entry
  * point for the similarity-join suite (SURVEY §3.3): raw-SQL users express
  * a Jaccard self-join as an equi-join on a blocking key plus a
  * `graft_jaccard(a.toks, b.toks) >= τ` predicate, and get the same exact
  * set semantics as [[graft.ops.SimilarityJoin.jaccardSelf]] (equivalence
  * pinned in ExtensionsSpec). NULL input → NULL; empty-union → NULL.
  */
case class SetJaccard(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two array<string> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val d = SetOps.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (d.isNaN) null else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = graft.functions.SetOps.jaccard($a, $b);
         |if (Double.isNaN(${ev.value})) { ${ev.isNull} = true; ${ev.value} = 0.0; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SetExprs {

  /** Column-level distinct word n-gram shingles (codegen'd kernel). */
  def shinglesCol(tokens: Column, n: Column): Column =
    column(WordShingles(expression(tokens), expression(n)))

  /** Column-level exact set Jaccard (codegen'd kernel). */
  def jaccard(a: Column, b: Column): Column =
    column(SetJaccard(expression(a), expression(b)))
}
