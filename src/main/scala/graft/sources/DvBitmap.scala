package graft.sources

import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** COMPRESSED DELETION-VECTOR BITMAPS — the read-merge scale fix for
  * merge-on-read deletes.
  *
  * The position parquet ([[Deletes.deleteWhereMoR]]'s source of truth)
  * makes the scan-time merge a broadcast anti-join whose broadcast is one
  * ROW PER DELETED ROW — delete-set-sized, which is exactly the quantity
  * that grows without bound on a long-lived 100 TB table taking scattered
  * takedowns. This module adds the classic fix (the roaring-bitmap design
  * Delta and Iceberg deletion vectors both use): at DELETE time, the
  * vector generation also gets a `_dvb/` sidecar holding ONE BITMAP PER
  * (partition, owner, file) — positions chunked by their high bits, each
  * 2^16-row chunk stored as either a sorted u16 array (sparse, ≤4096
  * marks: 2 bytes/row) or a fixed 8 KiB bitset (dense: ≤0.125 bytes/row,
  * REGARDLESS of how many rows die). At SCAN time the reader ships the
  * bitmaps — O(compressed-bitmap bytes), with an 8 KiB/chunk ceiling —
  * instead of the delete set, and the merge becomes a codegen'd
  * per-row probe ([[DvKeep]]) inside the scan's WholeStageCodegen span:
  * no join, no shuffle, no broadcast table build.
  *
  * The position parquet REMAINS the source of truth: the sidecar is
  * derived from it at write time (one re-read of the just-written
  * delete-set-sized file), carried vectors re-derive from the union'd
  * frame, and a generation whose sidecar is missing (a table written by
  * an older writer) falls back to the anti-join — readers degrade, never
  * fail. Rewrites purge vectors and their sidecars by construction (the
  * `_dvb/` dir lives inside the vector generation, so vacuum's recursive
  * generation delete collects it).
  *
  * Chunk layout (big-endian): `[i32 nChunks]` then per chunk
  * `[i64 key = pos >>> 16][u8 kind][i32 count][payload]` where kind 0 =
  * sorted u16 array (`count` 2-byte entries), kind 1 = dense bitset
  * (fixed 8192 bytes, `count` = cardinality for audits).
  */
object DvBitmap {

  /** Above this many marks a chunk flips from sorted-array (2 B/mark) to
    * bitset (8192 B flat) — the break-even point, same constant the
    * roaring format uses.
    */
  val DenseThreshold = 4096

  private val ArrayKind: Byte = 0
  private val DenseKind: Byte = 1
  private val DensePayload = 8192 // 2^16 bits

  /** Serialize a position set. Input need not be sorted or distinct;
    * positions must be ≥ 0 (parquet `row_index` always is).
    */
  def build(positionsIn: Array[Long]): Array[Byte] = {
    require(positionsIn.nonEmpty, "empty deletion bitmap")
    val sorted = positionsIn.clone()
    java.util.Arrays.sort(sorted)
    require(sorted(0) >= 0, s"negative row position ${sorted(0)}")
    // dedup in place
    var n = 1
    var i = 1
    while (i < sorted.length) {
      if (sorted(i) != sorted(n - 1)) { sorted(n) = sorted(i); n += 1 }
      i += 1
    }
    // chunk boundaries over the deduped prefix
    val starts = mutable.ArrayBuffer[Int]()
    i = 0
    while (i < n) {
      starts += i
      val key = sorted(i) >>> 16
      while (i < n && (sorted(i) >>> 16) == key) i += 1
    }
    var size = 4
    for (c <- starts.indices) {
      val end = if (c + 1 < starts.size) starts(c + 1) else n
      val cnt = end - starts(c)
      size += 13 + (if (cnt > DenseThreshold) DensePayload else 2 * cnt)
    }
    val buf = ByteBuffer.allocate(size)
    buf.putInt(starts.size)
    for (c <- starts.indices) {
      val start = starts(c)
      val end = if (c + 1 < starts.size) starts(c + 1) else n
      val cnt = end - start
      buf.putLong(sorted(start) >>> 16)
      if (cnt > DenseThreshold) {
        buf.put(DenseKind).putInt(cnt)
        val bits = new Array[Byte](DensePayload)
        var j = start
        while (j < end) {
          val low = (sorted(j) & 0xFFFF).toInt
          bits(low >>> 3) = (bits(low >>> 3) | (1 << (low & 7))).toByte
          j += 1
        }
        buf.put(bits)
      } else {
        buf.put(ArrayKind).putInt(cnt)
        var j = start
        while (j < end) {
          buf.putShort((sorted(j) & 0xFFFF).toShort)
          j += 1
        }
      }
    }
    buf.array()
  }

  /** Parsed, probe-ready form: a sorted chunk directory over one shared
    * payload array. `contains` is a directory binary-search plus either a
    * u16 binary-search (sparse chunk) or one bit test (dense chunk).
    */
  final class Bitmap private[DvBitmap] (
      keys: Array[Long], kinds: Array[Byte], offs: Array[Int],
      counts: Array[Int], payload: Array[Byte]) extends Serializable {

    def contains(pos: Long): Boolean = {
      val c = java.util.Arrays.binarySearch(keys, pos >>> 16)
      if (c < 0) return false
      val low = (pos & 0xFFFF).toInt
      if (kinds(c) == DenseKind)
        (payload(offs(c) + (low >>> 3)) & (1 << (low & 7))) != 0
      else {
        var lo = 0
        var hi = counts(c) - 1
        val base = offs(c)
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          val v = ((payload(base + 2 * mid) & 0xFF) << 8) |
            (payload(base + 2 * mid + 1) & 0xFF)
          if (v == low) return true
          else if (v < low) lo = mid + 1
          else hi = mid - 1
        }
        false
      }
    }

    def cardinality: Long = {
      var s = 0L
      var i = 0
      while (i < counts.length) { s += counts(i); i += 1 }
      s
    }
  }

  def parse(bytes: Array[Byte]): Bitmap = {
    val buf = ByteBuffer.wrap(bytes)
    val nChunks = buf.getInt
    val keys = new Array[Long](nChunks)
    val kinds = new Array[Byte](nChunks)
    val offs = new Array[Int](nChunks)
    val counts = new Array[Int](nChunks)
    var c = 0
    while (c < nChunks) {
      keys(c) = buf.getLong
      kinds(c) = buf.get
      counts(c) = buf.getInt
      offs(c) = buf.position()
      buf.position(buf.position() +
        (if (kinds(c) == DenseKind) DensePayload else 2 * counts(c)))
      c += 1
    }
    new Bitmap(keys, kinds, offs, counts, bytes)
  }

  // ------------------------------------------------------------------
  // sidecar
  // ------------------------------------------------------------------

  /** Sidecar directory inside a vector generation. The underscore prefix
    * keeps Spark's file listing from ever mixing it into the position
    * parquet read (the `_graft_stats.jsonl` coexistence rule).
    */
  val SidecarDir = "_dvb"

  /** Derive and write `genPath/_dvb` from the position parquet just
    * written at `genPath`: one bitmap row per (partition, owner, file).
    * The group-and-build is a distributed pass over the delete set (never
    * driver-materialized); the output is file-count rows of compressed
    * bytes, coalesced to one file.
    */
  private[sources] def writeSidecar(spark: SparkSession,
                                    genPath: String): Unit = {
    import spark.implicits._
    spark.read.parquet(genPath)
      .select("__dv_partition", "__dv_owner", "__dv_file", "__dv_pos")
      .as[(String, String, String, Long)]
      .groupByKey((r: (String, String, String, Long)) => (r._1, r._2, r._3))
      .mapGroups((k: (String, String, String),
                  it: Iterator[(String, String, String, Long)]) =>
        (k._1, k._2, k._3, build(it.map(_._4).toArray)))
      .toDF("__dvb_partition", "__dvb_owner", "__dvb_file", "__dvb_bitmap")
      .coalesce(1)
      .write.mode("error").parquet(s"$genPath/$SidecarDir")
  }

  private def sidecarFiles(root: String, gen: String): Seq[String] = {
    val d = Paths.get(root, gen, SidecarDir)
    if (!Files.isDirectory(d)) return Nil
    val s = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq
    } finally s.close()
  }

  /** Ceiling on the TOTAL serialized bitmap bytes one scan will ship as
    * plan-reference state (`spark.graft.dv.bitmapBudgetBytes`). The
    * bitmap design bounds cost per ROW (8 KiB / 65,536 rows at worst),
    * but a long-lived heavily-vectored table's outstanding evidence still
    * grows with its total deletes; above the budget every task
    * deserializing the whole map costs more than the anti-join the
    * bitmaps replace — so the reader falls back to exactly that
    * (position-frame broadcast anti-join), degrading, never failing.
    * 64 MiB ≈ half a billion marked rows dense, far past the point
    * compaction should have folded the vectors.
    */
  val BudgetConf = "spark.graft.dv.bitmapBudgetBytes"
  val DefaultBudgetBytes: Long = 64L << 20

  /** The snapshot's bitmaps, EXACT per partition (each partition
    * contributes rows from the one vector generation its entry currently
    * references — vectors accumulate, so that generation holds the
    * partition's complete delete set): owner generation → (partition,
    * file) → bitmap. The manifest callers pass is the PRUNED one (every
    * read path narrows `m.entries` before scanning), so both the sidecar
    * collect — partition-filtered INSIDE the parquet read, pushdown-
    * style, not post-collect — and the shipped map cover only the
    * partitions the scan will touch. `Some(Map.empty)` when the snapshot
    * has no position-flavored vectors at all (equality-only evidence
    * needs no bitmaps); `None` when any position-bearing generation
    * predates the sidecar format OR the surviving bitmaps overflow
    * [[BudgetConf]] — the caller must fall back to the anti-join.
    */
  private[sources] def readSidecars(spark: SparkSession, root: String,
                                    m: AtomicCommit.Manifest)
      : Option[Map[String, Map[(UTF8String, UTF8String), Bitmap]]] = {
    val byGen = m.entries.toSeq
      .flatMap { case (p, e) => AtomicCommit.dvOf(e).map(_ -> p) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toSeq.sortBy(_._1)
    val posGens = byGen.map(_._1)
      .filter(g => AtomicCommit.hasParquetFiles(s"$root/$g"))
    if (posGens.isEmpty) return Some(Map.empty)
    if (!posGens.forall(g =>
      Files.isDirectory(Paths.get(root, g, SidecarDir)))) return None
    val budget = spark.conf.getOption(BudgetConf).map(_.toLong)
      .getOrElse(DefaultBudgetBytes)
    var spent = 0L
    val posSet = posGens.toSet
    val out = mutable.Map[String,
      mutable.Map[(UTF8String, UTF8String), Bitmap]]()
    for ((g, parts) <- byGen if posSet(g)) {
      // read the concrete part files, not the dir: an underscore-named
      // read root trips Spark's hidden-path warning (cosmetic but noisy),
      // and an empty sidecar dir should degrade like a missing one
      val files = sidecarFiles(root, g)
      if (files.isEmpty) return None
      import org.apache.spark.sql.functions.col
      // entry keys are RAW dir names; __dvb_partition carries the
      // DECODED row value (null for the sentinel) — probing raw would
      // silently load no bitmaps for an escaped or null partition and
      // its deleted rows would resurrect at scan
      val rows = spark.read.parquet(files: _*)
        .filter(GraftRelation.rawKeyProbe(col("__dvb_partition"),
          parts.toSeq.sorted))
        .collect()
      for (r <- rows) {
        spent += r.getAs[Array[Byte]](3).length
        if (spent > budget) return None // over budget: anti-join instead
        // null partition → SENTINEL key, matching applyDvBitmap's probe
        val key = (UTF8String.fromString(
          if (r.isNullAt(0)) GraftRelation.NullPartitionName
          else r.getString(0)),
          UTF8String.fromString(r.getString(2)))
        out.getOrElseUpdate(r.getString(1), mutable.Map()) +=
          key -> parse(r.getAs[Array[Byte]](3))
      }
    }
    Some(out.view.mapValues(_.toMap).toMap)
  }

  /** Static probe for generated code: keep the row unless its file's
    * bitmap marks its position. Files with no bitmap have no deletes.
    * The UTF8String keys hash/compare by bytes, so the scan-side values
    * (pointers into the row buffer) probe the driver-built map without
    * per-row string allocation.
    */
  def keep(m: Map[(UTF8String, UTF8String), Bitmap],
           p: UTF8String, f: UTF8String, pos: Long): Boolean =
    m.get((p, f)) match {
      case Some(b) => !b.contains(pos)
      case None => true
    }
}

/** `DvKeep(bitmaps)(partition, file, pos)` — the codegen'd merge-on-read
  * probe: TRUE iff the row survives its partition's deletion-vector
  * bitmap. The bitmap map rides the plan as a reference object (it is the
  * compressed delete evidence — the whole point is that it is small), and
  * the generated code is one static call inside the scan's
  * WholeStageCodegen span, so vectored reads keep the scan-shaped plan
  * with a Filter where the legacy path had a BroadcastHashJoin LeftAnti.
  */
case class DvKeep(bitmaps: Map[(UTF8String, UTF8String), DvBitmap.Bitmap],
                  part: Expression, file: Expression, pos: Expression)
    extends TernaryExpression {

  override def first: Expression = part
  override def second: Expression = file
  override def third: Expression = pos

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_dv_keep"

  override def checkInputDataTypes(): TypeCheckResult =
    if (part.dataType == StringType && file.dataType == StringType &&
      pos.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (string, string, bigint), got " +
        s"(${part.dataType}, ${file.dataType}, ${pos.dataType})")

  override def nullSafeEval(p: Any, f: Any, o: Any): Any =
    DvBitmap.keep(bitmaps, p.asInstanceOf[UTF8String],
      f.asInstanceOf[UTF8String], o.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvbMap", bitmaps,
      "scala.collection.immutable.Map")
    defineCodeGen(ctx, ev, (p, f, o) =>
      s"graft.sources.DvBitmap.keep($ref, $p, $f, $o)")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(part = newFirst, file = newSecond, pos = newThird)
}
