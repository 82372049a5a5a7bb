package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.GraftBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_freq_items(item, capacity) -> array<struct<item,est>>` —
  * MERGEABLE heavy-hitters sketch (Misra–Gries 1982; mergeability per
  * Agarwal et al., "Mergeable Summaries", PODS 2012).
  *
  * Why a sketch and not `GROUP BY item`: the group-by's state is
  * O(distinct items) — for URL/token/domain frequency over a 100 TB
  * corpus that is billions of keys shuffled and held in the aggregation
  * hash map. The sketch holds AT MOST `capacity` counters per partial
  * buffer, merges associatively (partial aggregation works unchanged:
  * map-side partials are sketch buffers, the final merge is
  * counter-summing + the (k+1)-th-largest subtraction), and guarantees
  * `true − N/(capacity+1) ≤ est ≤ true` for every item — so any item with
  * frequency above N/(capacity+1) is present in the output, with bounded
  * undercount. When `capacity ≥ distinct(items)` no counter is ever
  * evicted and every estimate is EXACT — which is how q114 is
  * DuckDB-oracle-graded while the small-capacity error bound is pinned in
  * PipelineSpec.
  *
  * Plans through `ObjectHashAggregateExec` (the TypedImperativeAggregate
  * path — same machinery as `percentile_approx`); buffers serialize as
  * `(size, (UTF, long)*)` between partial and final stages.
  */
case class FreqItemsSketch(
    child: Expression,
    capacityExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  private lazy val capacity: Int = capacityExpr match {
    case Literal(c: Int, IntegerType) if c > 0 => c
    case other => throw new IllegalArgumentException(
      s"$prettyName capacity must be a positive int literal, got $other")
  }

  override def prettyName: String = "graft_freq_items"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("est", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && capacityExpr.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (string item, int capacity), got " +
        s"${child.dataType} / ${capacityExpr.dataType}")

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[String, Long],
      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      // copy out of the (possibly reused) unsafe-row backing buffer
      val key = v.asInstanceOf[UTF8String].toString
      buf.get(key) match {
        case Some(c) => buf.update(key, c + 1L)
        case None if buf.size < capacity => buf.update(key, 1L)
        case None =>
          // classic MG decrement-all: every counter −1, drop the zeros.
          // O(capacity) on a miss-at-full — amortized O(1) per stream
          // element since each decrement pays for one prior increment.
          val dead = mutable.ArrayBuffer.empty[String]
          buf.keysIterator.foreach { k =>
            val nc = buf(k) - 1L
            if (nc == 0L) dead += k else buf.update(k, nc)
          }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(
      buf: mutable.HashMap[String, Long],
      other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (k, c) => buf.update(k, buf.getOrElse(k, 0L) + c) }
    if (buf.size > capacity) {
      // subtract the (capacity+1)-th largest counter from everything and
      // drop the non-positives — the PODS'12 merge that preserves the
      // N/(capacity+1) undercount bound under any merge tree.
      val cuts = buf.values.toArray
      java.util.Arrays.sort(cuts)
      val cut = cuts(cuts.length - capacity - 1)
      val dead = mutable.ArrayBuffer.empty[String]
      buf.keysIterator.foreach { k =>
        val nc = buf(k) - cut
        if (nc <= 0L) dead += k else buf.update(k, nc)
      }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    // deterministic output order: est DESC, item ASC — a unique total
    // order whatever hash-map iteration did upstream
    val sorted = buf.toArray.sortBy { case (k, c) => (-c, k) }
    new GenericArrayData(sorted.map { case (k, c) =>
      InternalRow(UTF8String.fromString(k), c)
    })
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (k, c) => out.writeUTF(k); out.writeLong(c) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) { buf.update(in.readUTF(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqItemsSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqItemsSketch =
    copy(inputAggBufferOffset = newOffset)

  override def children: Seq[Expression] = Seq(child, capacityExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), capacityExpr = newChildren(1))
}

object SketchExprs {

  def freqItems(item: Column, capacity: Column): Column =
    column(FreqItemsSketch(expression(item), expression(capacity)).toAggregateExpression())
}
