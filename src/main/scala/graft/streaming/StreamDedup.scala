package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming exact deduplication for a document-ingest pipeline.
  *
  * The batch form of exact dedup (q42) is a one-shot shuffle on the
  * normalized-content key; a continuously-ingesting pipeline instead needs
  * an operator whose STATE stays bounded while the stream runs forever.
  * `dropDuplicatesWithinWatermark` is Spark's native answer: one state
  * entry per distinct key, evicted once the event-time watermark passes the
  * first occurrence plus the configured horizon — state is
  * O(distinct keys per horizon), independent of total stream volume, which
  * is what makes the job run indefinitely at 100 TB/day (the same argument
  * as q47's windowed aggregation).
  *
  * The dedup key is a 64-bit fingerprint of the normalized text
  * (lower/trim, matching q42's normalization) rather than the text itself,
  * so each state entry is 8 bytes + key overhead instead of a document
  * body. At 64 bits, hash collisions across a horizon's worth of distinct
  * documents are negligible (~n²/2⁶⁵), and acceptable for dedup semantics:
  * a collision only drops one extra document.
  *
  * Works unchanged on a batch DataFrame (the watermark is a no-op there and
  * the dedup collapses to `dropDuplicates` on the fingerprint) — the
  * batch/stream parity that StreamDedupSpec pins.
  *
  * Idle micro-batches. After a batch advances the watermark, Spark runs a
  * no-data batch whose only work here is evicting entries whose expiry
  * (event time + horizon) is at or below the watermark. Skipping them
  * (`spark.sql.streaming.noDataMicroBatches.enabled` = false) leaves the
  * output of a finite run unchanged when the event times fed before its
  * last batch span less than 2 × the horizon: every watermark before the
  * last batch is at most (max − horizon), below every earlier entry's
  * expiry (≥ min + horizon), so no idle batch could have evicted an entry
  * before the last batch looks it up. Late-row filtering reads the same
  * watermark either way, rows are emitted as they arrive, and the
  * trailing idle batch emits nothing. Above that span an idle batch can
  * evict an entry a later duplicate then misses, so the batches stay on.
  * `StreamingQueries.memorySinkRun` applies this rule; StreamDedupSpec
  * checks it either side of the bound.
  */
object StreamDedup {

  /** Content fingerprint used as the dedup state key. */
  def fingerprint(textCol: String): org.apache.spark.sql.Column =
    xxhash64(lower(trim(col(textCol))))

  /** Drop documents whose normalized text was already seen within the
    * event-time watermark horizon. Output carries the input columns plus
    * the `fp` fingerprint.
    *
    * A batch frame takes the plain `dropDuplicates` on the same fingerprint
    * (Spark rejects the watermark variant outside streaming): one code path
    * for the pipeline, backfill jobs dedup globally, the live stream dedups
    * per horizon — the batch/stream parity StreamDedupSpec pins.
    */
  def dedupWithinWatermark(docs: DataFrame, tsCol: String, textCol: String,
                           horizon: String): DataFrame = {
    val keyed = docs.withColumn("fp", fingerprint(textCol))
    if (docs.isStreaming)
      keyed.withWatermark(tsCol, horizon).dropDuplicatesWithinWatermark("fp")
    else keyed.dropDuplicates("fp")
  }

  /** NEAR-dup fingerprint: a single MinHash band over the distinct tokens —
    * the xxhash64 of the first `bandRows` minhash values (fixed seeds, so a
    * pure deterministic function of the token set).
    *
    * Streaming keyed dedup can express only ONE key per row, so the batch
    * LSH's OR-over-bands candidate semantics (a join) is out of reach; a
    * single band is the bounded-state compromise, with P(collide | J) = J^r:
    * at r = 4, J = 0.95 docs collide w.p. ≈ 0.81, J = 0.5 w.p. ≈ 0.06 —
    * near-identical documents dedup, merely-related ones pass. Smaller r
    * widens the net, larger r tightens it. A document with no tokens falls
    * back to the exact normalized-content fingerprint.
    */
  def nearFingerprint(textCol: String, nHashes: Int = 32,
                      bandRows: Int = 4): org.apache.spark.sql.Column = {
    val flat: Seq[Long] = graft.ops.MinHash.params(nHashes)
      .flatMap { case (a, b) => Seq(a, b) }
    val toks = array_distinct(split(col(textCol), " +"))
    val sig = graft.functions.SigExprs.minhashSig(toks, typedLit(flat))
    coalesce(xxhash64(slice(sig, 1, bandRows)), fingerprint(textCol))
  }

  /** Drop documents NEAR-duplicating one seen within the watermark horizon:
    * [[dedupWithinWatermark]]'s semantics with [[nearFingerprint]] as the
    * state key — the streaming counterpart of the MinHash/LSH batch dedup
    * (q43), with the same bounded-state argument as the exact form: one
    * 8-byte band hash per distinct bucket per horizon, so the job runs
    * forever at 100 TB/day. Batch frames dedup globally on the same key
    * (batch/stream parity, pinned in StreamDedupSpec).
    */
  def nearDedupWithinWatermark(docs: DataFrame, tsCol: String, textCol: String,
                               horizon: String, nHashes: Int = 32,
                               bandRows: Int = 4): DataFrame = {
    val keyed = docs.withColumn("fp", nearFingerprint(textCol, nHashes, bandRows))
    if (docs.isStreaming)
      keyed.withWatermark(tsCol, horizon).dropDuplicatesWithinWatermark("fp")
    else keyed.dropDuplicates("fp")
  }
}
