package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.GraftBridge.{column, expression}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Deflate-compression kernel (top-level object → static forwarders for
  * generated code, same pattern as [[StrOps]]/[[SigOps]]).
  *
  * Compression ratio is the classic model-free redundancy signal for
  * training-data quality filtering: highly repetitive / boilerplate /
  * machine-generated text compresses far better than natural prose, so
  * `deflate_len / raw_len` separates the two without a language model.
  * Both Gopher-style quality pipelines and C4-descendant cleaners gate on
  * it alongside length/punctuation heuristics (q51).
  *
  * Determinism: level is FIXED at 6 and the deflater is created fresh per
  * call (no dictionary carry-over), so the byte count is a pure function
  * of the input within a JVM — the within-engine determinism the engine
  * hash grade needs. There is deliberately NO DuckDB oracle: zlib is not
  * exposed there, and cross-library byte-identical deflate output is not
  * a contract anyone should write down.
  */
object ZlibOps {

  /** Deflated byte count of a UTF-8 string at level 6 (zlib wrapper
    * framing included — constant 6-byte overhead, irrelevant to the
    * ratio's discriminative power and kept for simplicity).
    */
  def deflatedLen(s: UTF8String): Int = {
    val bytes = s.getBytes
    val d = new java.util.zip.Deflater(6)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  /** deflate_len/raw_len — ~(0, 1.5]: very short inputs exceed 1.0 because
    * zlib framing (~6 B) + stored-block overhead outweighs them; empty
    * string → 1.0 (no evidence of redundancy — neutral, never divides by
    * zero).
    */
  def compressionRatio(s: UTF8String): Double = {
    val n = s.numBytes()
    if (n == 0) 1.0 else deflatedLen(s).toDouble / n
  }
}

/** `graft_compression_ratio(text) -> double` — codegen'd deflate-level-6
  * compression ratio. Per-row cost is O(len) with a fixed-size native
  * buffer; no state crosses rows, so the expression pipelines inside
  * whole-stage codegen like any scalar function and the scan parallelism
  * is the only knob at 100 TB.
  */
case class CompressionRatio(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_compression_ratio"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string input, got ${child.dataType}")

  override def nullSafeEval(s: Any): Any =
    ZlibOps.compressionRatio(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.ZlibOps.compressionRatio($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ZlibExprs {

  def compressionRatio(c: Column): Column = column(CompressionRatio(expression(c)))
}
