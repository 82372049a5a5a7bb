package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.execution.streaming.Sink

import graft.sources.{AtomicCommit, ManifestStore}

/** The registered streaming SINK face of [[AtomicStreamSink]]:
  * `df.writeStream.format("graft").option("path", root)` — exactly-once
  * transactional ingest into a manifest table with no `foreachBatch`
  * plumbing. Options: `path` (a root, or a name registered via
  * `spark.graft.table.<name>`); `partitionCol` (required for a NEW
  * table, validated against an existing one); `queryKey` (the watermark
  * identity — distinct per independent stream, default "stream");
  * `mode` = `append` (default, O(batch) appended generations) or
  * `upsert` (CDC-apply: requires `keyCol`, honors optional `seqCol`
  * ordering and boolean `deleteCol` tombstones); `statsCols` annotates
  * committed generations with skipping evidence.
  *
  * Exactly-once is [[AtomicStreamSink]]'s commit-time watermark — the
  * batchId rides the same manifest swap as the rows, so engine replays
  * and zombie drivers are no-ops, decided atomically inside the publish
  * CAS. Composed with [[GraftStreamSource]], a table-to-derived-table
  * pipeline is two `format("graft")` calls and a checkpoint.
  */
final class GraftStreamSink(root: String, store: ManifestStore,
                            partitionColOpt: Option[String], queryKey: String,
                            mode: String, keyCol: Option[String],
                            seqCol: Option[String], deleteCol: Option[String],
                            statsCols: Seq[String]) extends Sink {

  private def partitionCol: String =
    AtomicCommit.readManifest(store).map { m =>
      partitionColOpt.foreach(p => require(p == m.partitionCol,
        s"table at $root is partitioned by ${m.partitionCol}, not $p"))
      m.partitionCol
    }.orElse(partitionColOpt).getOrElse(
      sys.error("graft stream sink: a NEW table needs the partitionCol option"))

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the engine hands an incremental-execution DataFrame that cannot be
    // re-planned by a batch write directly — rebuild a BATCH frame over
    // the same computed rows (the standard V1 sink discipline)
    val batch = GraftBridge.overRows(data, isStreaming = false)
    mode match {
      case "append" =>
        AtomicStreamSink.commitBatch(root, store, partitionCol, queryKey,
          batch, batchId, statsCols)
      case "upsert" =>
        AtomicStreamSink.upsertBatch(root, store, partitionCol,
          keyCol.getOrElse(sys.error(
            "graft stream sink: mode=upsert requires the keyCol option")),
          queryKey, batch, batchId, seqCol, deleteCol, statsCols)
    }
  }

  override def toString: String = s"GraftStreamSink($root, $queryKey, $mode)"
}
