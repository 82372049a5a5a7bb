package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.GraftBridge.{column, expression}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** String-similarity kernels (top-level object → static forwarders for
  * generated code, same pattern as [[SetOps]]).
  */
object StrOps {

  /** Jaro-Winkler similarity, the STANDARD formulation (verified
    * empirically identical to DuckDB 1.0.0's `jaro_winkler_similarity` on
    * probe pairs incl. the boost-threshold edge):
    * match window ⌊max(|a|,|b|)/2⌋−1; half-transpositions; Winkler prefix
    * bonus l·0.1·(1−jaro) with l = common prefix ≤ 4, applied only when
    * jaro > 0.7 (the boost threshold — probed: DuckDB leaves jaro 0.44 and
    * 0.67 unboosted).
    */
  def jaroWinkler(aU: UTF8String, bU: UTF8String): Double = {
    val a = aU.toString
    val b = bU.toString
    if (a == b) return 1.0
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val aFlags = new Array[Boolean](la)
    val bFlags = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!bFlags(j) && a.charAt(i) == b.charAt(j)) {
          aFlags(i) = true
          bFlags(j) = true
          m += 1
          done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars out of order, counted in halves
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (aFlags(i)) {
        while (!bFlags(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val half = t / 2
    val jaro = (m.toDouble / la + m.toDouble / lb + (m - half).toDouble / m) / 3.0
    if (jaro <= 0.7) jaro
    else {
      var l = 0
      while (l < math.min(4, math.min(la, lb)) && a.charAt(l) == b.charAt(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    }
  }

  /** NFC canonical composition; fast path skips the (allocating)
    * normalizer for strings the quick-check proves already normalized —
    * which is nearly all real text.
    */
  def nfc(sU: UTF8String): UTF8String = {
    val s = sU.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) sU
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
}

/** `graft_jaro_winkler(a, b) -> double` — codegen'd Jaro-Winkler, the
  * classic record-linkage name-similarity measure (Winkler 1990), the one
  * edit-family metric the engine lacked (q38 covers Levenshtein).
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaro_winkler"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two string inputs, got ${left.dataType} / ${right.dataType}")

  override def nullSafeEval(a: Any, b: Any): Any =
    StrOps.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.StrOps.jaroWinkler($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_nfc(s) -> string` — Unicode NFC normalization (canonical
  * composition) as a codegen expression. Spark SQL ships no normalizer,
  * yet a multilingual corpus NEEDS one before any hash-keyed dedup or
  * equality join on text: "é" arrives both precomposed (U+00E9) and as
  * "e"+COMBINING ACUTE (U+0065 U+0301) — byte-different, render-identical
  * — so un-normalized exact dedup (q42), fingerprinting (q53), and
  * decontamination keys silently treat the same sentence as two. JDK
  * `java.text.Normalizer` (ICU data) does the work; per-row, stateless,
  * whole-stage-codegen-friendly. NFC chosen over NFKC: canonical
  * equivalence only — NFKC's compatibility folding (ﬁ→fi, ²→2) changes
  * content, a policy decision that belongs in explicit cleaning rules
  * (q106), not in a normalizer applied by default.
  */
case class NfcNormalize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string input, got ${child.dataType}")

  override def nullSafeEval(s: Any): Any =
    StrOps.nfc(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.StrOps.nfc($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object StringExprs {

  def jaroWinkler(a: Column, b: Column): Column =
    column(JaroWinkler(expression(a), expression(b)))

  def nfc(s: Column): Column = column(NfcNormalize(expression(s)))
}
