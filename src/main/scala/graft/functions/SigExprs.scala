package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftBridge.{column, expression}
import org.apache.spark.sql.types._

/** Per-document sketch kernels (top-level object → static forwarders for
  * generated code, same pattern as [[SetOps]] / [[LshOps]]).
  *
  * WHY per-row expressions instead of explode + N aggregate columns: a
  * document's token array is already co-located in its row, so its MinHash/
  * SimHash signature is a pure per-row function — yet the explode+groupBy
  * formulation pays a full shuffle (docs × nHashes longs) plus an N-column
  * aggregation tree that AQE re-canonicalizes per stage (the q54 lesson,
  * see [[LshOps]]). These kernels compute the signature in one codegen'd
  * pass over the array: zero shuffles, one expression node.
  *
  * Hash compatibility: token hashing calls Spark's own
  * [[XxHash64Function]] with the default seed 42 and `pmod` is replicated
  * as `((x % p) + p) % p` — signatures are BIT-IDENTICAL to the previous
  * `xxhash64`/`pmod`-built aggregation (pinned by the recall/error property
  * tests, which kept their measured constants across the rewrite).
  */
object SigOps {

  private def xx64(s: Any): Long = XxHash64Function.hash(s, StringType, 42L)

  private def pmod(x: Long, p: Long): Long = ((x % p) + p) % p

  /** MinHash signature of a token array: out[i] = min over tokens of
    * pmod(a_i · pmod(xxhash64(tok), p) + b_i, p), with (a_i, b_i) pairs
    * flattened into `params` and p = [[graft.ops.MinHash.P]]. Null tokens
    * are skipped (aggregate-min semantics); an array with no usable token
    * yields null, mirroring the explode formulation where such a document
    * never reaches the aggregation.
    */
  def minhashSig(tokens: ArrayData, params: ArrayData, p: Long): ArrayData = {
    val nTok = tokens.numElements()
    val nHashes = params.numElements() / 2
    val mins = Array.fill(nHashes)(Long.MaxValue)
    var any = false
    var t = 0
    while (t < nTok) {
      if (!tokens.isNullAt(t)) {
        any = true
        val hx = pmod(xx64(tokens.getUTF8String(t)), p)
        var i = 0
        while (i < nHashes) {
          val v = pmod(params.getLong(2 * i) * hx + params.getLong(2 * i + 1), p)
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      t += 1
    }
    if (!any) null else new GenericArrayData(mins)
  }

  /** 64-bit SimHash of a token array: bit i is set iff the sum over tokens
    * of ±1 (by bit i of xxhash64(tok)) is positive. Null tokens skipped;
    * no usable token → null (boxed), mirroring the explode formulation.
    */
  def simhashSig(tokens: ArrayData): java.lang.Long = {
    val nTok = tokens.numElements()
    val votes = new Array[Int](64)
    var any = false
    var t = 0
    while (t < nTok) {
      if (!tokens.isNullAt(t)) {
        any = true
        val h = xx64(tokens.getUTF8String(t))
        var i = 0
        while (i < 64) {
          if (((h >> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
      }
      t += 1
    }
    if (!any) return null
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) > 0) sig |= 1L << i
      i += 1
    }
    java.lang.Long.valueOf(sig)
  }
}

/** `graft_minhash_sig(tokens, params_flat) -> array<long>` — per-row
  * MinHash signature; `params_flat` is the flattened (a, b) pair list (a
  * plan-time literal in practice).
  */
case class MinHashSig(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (array<string>, array<long>), got $l / $r")
    }

  override def nullSafeEval(toks: Any, ps: Any): Any =
    SigOps.minhashSig(toks.asInstanceOf[ArrayData], ps.asInstanceOf[ArrayData],
      graft.ops.MinHash.P)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, p) => {
      s"""
         |${ev.value} = graft.functions.SigOps.minhashSig($t, $p, ${graft.ops.MinHash.P}L);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_simhash_sig(tokens) -> bigint` — per-row 64-bit SimHash. */
case class SimHashSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_sig"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string>, got $t")
  }

  override def nullSafeEval(toks: Any): Any = {
    val r = SigOps.simhashSig(toks.asInstanceOf[ArrayData])
    if (r == null) null else r.longValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      val boxed = ctx.freshName("boxed")
      s"""
         |java.lang.Long $boxed = graft.functions.SigOps.simhashSig($t);
         |if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $boxed.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SigExprs {

  def minhashSig(tokens: Column, paramsFlat: Column): Column =
    column(MinHashSig(expression(tokens), expression(paramsFlat)))

  def simhashSig(tokens: Column): Column =
    column(SimHashSig(expression(tokens)))
}
