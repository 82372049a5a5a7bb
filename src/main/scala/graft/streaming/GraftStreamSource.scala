package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.types.StructType

import graft.sources.{AtomicCommit, BranchStore, ManifestStore, PosixManifestStore}

/** A REGISTERED Structured Streaming source over [[graft.sources
  * .AtomicCommit]] tables — the subscription surface [[ChangeFeed]]'s
  * polling-tick API lacks: any Spark streaming query (not just
  * AtomicCommit-to-AtomicCommit replication) can now subscribe to a
  * manifest table with triggers, checkpoints, and arbitrary downstream
  * transforms:
  *
  * {{{
  * spark.readStream.format("graft").option("path", root).load()
  *   .groupBy("lang").count()
  *   .writeStream.option("checkpointLocation", cp)...
  * }}}
  *
  * MANIFEST VERSIONS ARE THE OFFSETS. The table's commit history is a
  * dense, immutable sequence, so the offset range (start, end] maps
  * deterministically to batches — re-deriving a batch after a crash
  * yields byte-identical rows, which is exactly the replayability the
  * engine's offset-log recovery contract requires. The engine's
  * checkpoint holds nothing but version numbers; batch derivation
  * delegates to [[ChangeFeed.appendsAt]] / [[ChangeFeed.cdcBatchAt]], so
  * a micro-batch costs O(what changed), never O(table).
  *
  * Options: `path` (required); `feed` = `append` (default — insert-only
  * history, fails loudly on replaces/deletes) or `cdc` (any history, rows
  * plus boolean `__cf_tombstone`, requires `keyCol`); `branch` to follow
  * a branch lineage.
  *
  * Retention contract, surfaced as a STREAM ERROR: a consumer that falls
  * behind the source's vacuum horizon fails its next batch with the
  * readable-versions message from `manifestAt` — never silently skips
  * history (Delta/Iceberg's CDF-vs-VACUUM rule).
  *
  * V1 `Source` is the deliberate API choice for the same reason
  * [[graft.sources.GraftDataSource]] uses the V1 relation: `getBatch`
  * returns a DataFrame, letting batches reuse the exact manifest-read
  * plans of the batch API instead of re-implementing parquet reading
  * behind DSv2's `PartitionReaderFactory`.
  */
final class GraftStreamSource(sqlContext: SQLContext, root: String,
                              store: ManifestStore, feed: String,
                              keyCol: Option[String],
                              override val schema: StructType,
                              maxVersionsPerTrigger: Option[Long] = None,
                              metadataPath: String = "",
                              startingVersion: Option[Long] = None)
  extends Source
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // Trigger.AvailableNow: drain everything committed AT QUERY START over
  // (possibly rate-limited) repeated triggers, then stop — without this
  // the engine falls back to one uncapped batch, defeating the limiter
  private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = decidedHead()

  /** Offsets stop at the RESOLVED head ([[AtomicCommit.readManifest]]):
    * versions above it belong to an undecided in-flight multi-table
    * transaction ([[graft.sources.Transactions]]) and must not be served
    * — they may yet abort. Decided versions stream through [[ChangeFeed]],
    * which skips an aborted prepare and its revert as no-op batches.
    */
  private def decidedHead(): Option[Long] =
    AtomicCommit.readManifest(store).map(_.version)

  // SupportsAdmissionControl's face of the same answer (the engine calls
  // this form when the interface is present; read limits ride our own
  // maxVersionsPerTrigger option instead)
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    getOffset.orNull

  private def spark = sqlContext.sparkSession

  // ---- rate limiting (`maxVersionsPerTrigger`): getOffset answers with
  // at most that many versions past the highest offset already handed
  // out, so a cold consumer catches up on a 10k-commit history in
  // bounded micro-batches instead of one giant one. The high-water mark
  // persists in the query's own metadata directory (the V1 file-source
  // pattern); it is ADVISORY — a lost mark only changes batch BOUNDARIES,
  // never contents, because batches are derived from the offset range
  // the engine's log replays.
  // metadataPath arrives as a URI ("file:/ckpt/sources/0") — resolve it
  // to a local path; a non-local checkpoint filesystem falls back to the
  // in-memory mark (the file is advisory either way)
  private val servedFile: Option[java.nio.file.Path] =
    Option(metadataPath).filter(_.nonEmpty).flatMap { p =>
      try {
        val uri = java.net.URI.create(p)
        val base =
          if (uri.getScheme == null) java.nio.file.Paths.get(p)
          else java.nio.file.Paths.get(uri)
        Some(base.resolve("graft-last-served"))
      } catch { case _: Exception => None }
    }
  private var servedMem = 0L
  private def readServed(): Long = math.max(servedMem,
    servedFile.filter(java.nio.file.Files.exists(_)).map { f =>
      new String(java.nio.file.Files.readAllBytes(f)).trim.toLong
    }.getOrElse(0L))
  private def writeServed(v: Long): Unit = if (v > readServed()) {
    servedMem = v
    servedFile.foreach { f =>
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.write(f, v.toString.getBytes)
    }
  }

  private def versionOf(o: V1Offset): Long = {
    // offsets round-trip through the engine's JSON log; ours is a bare
    // version number (possibly re-wrapped as a SerializedOffset)
    val j = o.json.trim
    j.stripPrefix("\"").stripSuffix("\"").toLong
  }

  override def getOffset: Option[V1Offset] =
    decidedHead().map { cur =>
      // before anything is served, the rate limiter's base is the
      // starting point, not version 0 — else a capped cold start would
      // serve (0, mx] below the requested window
      startingVersion.foreach(sv => if (readServed() < sv - 1) servedMem = sv - 1)
      val target = availableNowTarget.map(math.min(cur, _)).getOrElse(cur)
      val capped = maxVersionsPerTrigger
        .map(mx => math.min(target, readServed() + mx)).getOrElse(target)
      writeServed(capped)
      GraftStreamSource.GraftOffset(capped)
    }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    // a fresh checkpoint begins at `startingVersion` (skipping the
    // initial-snapshot replay — the subscribe-to-new-changes mode);
    // without the option, version 1 IS the initial snapshot batch
    val from = start.map(versionOf)
      .getOrElse(startingVersion.map(_ - 1).getOrElse(0L))
    val to = versionOf(end)
    // keep the rate-limit mark at least at the engine's replayed range
    // (a fresh source instance recovering a checkpointed batch)
    writeServed(math.max(from, to))
    val batches = ((from + 1) to to).flatMap { v =>
      feed match {
        case "append" => ChangeFeed.appendsAt(spark, root, store, v)
        case "cdc" => ChangeFeed.cdcBatchAt(spark, root, store, v, keyCol.get)
      }
    }
    val df =
      if (batches.isEmpty) // props-only versions in range: empty batch
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else batches.reduce(_.unionByName(_, allowMissingColumns = true))
    // fix column order to the declared schema (union order is read order)
    asStreaming(df.select(schema.fieldNames
      .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*))
  }

  /** Wrap the derived batch plan as a STREAMING DataFrame — Spark 4's
    * MicroBatchExecution asserts `isStreaming` on every V1 `getBatch`
    * result. `internalCreateDataFrame` is what Spark's own V1 file
    * source calls for exactly this; it is `private[sql]`, reached through
    * [[GraftBridge]] (one driver-side call per micro-batch — the executed
    * plan underneath is unchanged).
    */
  private def asStreaming(df: DataFrame): DataFrame =
    GraftBridge.overRows(df, isStreaming = true)

  override def stop(): Unit = ()
}

object GraftStreamSource {
  /** The offset: one manifest version, serialized as its decimal form. */
  final case class GraftOffset(version: Long) extends V1Offset {
    override def json: String = version.toString
  }

  private[graft] def storeFor(root: String,
                                  parameters: Map[String, String]): ManifestStore =
    parameters.get("branch") match {
      case Some(b) => new BranchStore(new PosixManifestStore(root), b)
      case None => new PosixManifestStore(root)
    }

  /** The stream's schema: the table's current read schema, plus the
    * tombstone flag in CDC mode. Resolved once at query planning; later
    * additive schema evolution on the source surfaces on restart.
    */
  private[graft] def schemaFor(spark: org.apache.spark.sql.SparkSession,
                                   root: String, store: ManifestStore,
                                   feed: String): StructType = {
    // schema-only: the O(generations) derivation, not a full read plan
    val base = AtomicCommit.scanSchema(spark, root,
      AtomicCommit.readManifest(store).getOrElse(
        sys.error(s"no manifest at $root — not an AtomicCommit table")))
    if (feed == "cdc")
      StructType(base.fields :+ org.apache.spark.sql.types.StructField(
        "__cf_tombstone", org.apache.spark.sql.types.BooleanType,
        nullable = false))
    else base
  }

  private[graft] def feedFor(parameters: Map[String, String]): String = {
    val feed = parameters.getOrElse("feed", "append")
    require(feed == "append" || feed == "cdc",
      s"graft stream source: feed must be 'append' or 'cdc', got $feed")
    require(feed != "cdc" || parameters.contains("keyCol"),
      "graft stream source: the cdc feed requires the keyCol option")
    feed
  }
}
