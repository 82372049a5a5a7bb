package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream time-interval join — the last major Structured Streaming
  * operator family in the inventory (windowed aggs, watermarked dedup, and
  * arbitrary state are q44–q47/q59/q70/q74): correlate two event streams
  * by key within a bounded event-time horizon, e.g. attribute each
  * purchase to the views that preceded it.
  *
  * Spark-native mechanics: BOTH sides carry a watermark and the join
  * condition bounds `p_ts` to `[v_ts, v_ts + horizon]`, which is exactly
  * what lets the state store evict — a buffered view older than
  * `watermark − horizon` can never match a future purchase, so per-key
  * state is bounded by (event rate × horizon), not stream length. Without
  * the interval bound the join would have to buffer both streams forever
  * (Spark rejects that plan in append mode).
  *
  * The SAME plan runs on batch frames — `EliminateEventTimeWatermark`
  * drops the watermark nodes on non-streaming children and the interval
  * condition becomes an ordinary equi-join residual — which is what makes
  * the operator oracle-gradable (q90) while StreamJoinSpec pins the
  * streaming runtime: cross-batch pairing, and non-emission of a view
  * that arrives behind the watermark.
  */
object StreamJoin {

  /** Pair each view with every same-user purchase in
    * `[v_ts, v_ts + horizonHours]`. Output:
    * `(view_id, purchase_id, user_id, gap_us)` with the gap exact in
    * microseconds (int64 — no float time arithmetic).
    */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
                      horizonHours: Int): DataFrame = {
    val v = views
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", s"$horizonHours hours")
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", s"$horizonHours hours")
    v.join(p,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr(s"INTERVAL $horizonHours HOURS"),
        "inner")
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
  }

  /** Stream-STATIC enrichment join — the dimension-lookup pattern every
    * event pipeline runs (attach the user's segment/geo to each event as
    * it arrives). The static side is hinted `broadcast`, so on a stream
    * the join is STATELESS: each micro-batch hash-probes the dim map-side
    * — no watermark, no state store, nothing to evict, and Structured
    * Streaming re-plans the static side per micro-batch (a refreshed dim
    * snapshot is picked up on the next trigger). LEFT join keeps events
    * whose key has no dim row — an enrichment must never drop traffic.
    * On batch frames the same plan is a plain broadcast-hash left join,
    * which is what makes the operator oracle-gradable (q103) while
    * StreamJoinSpec pins the per-micro-batch runtime.
    *
    * At 100 TB the contract is "the dim fits in a broadcast" (segments,
    * geos, account tiers — bounded business dimensions). A data-sized
    * "dim" is not an enrichment; route that to a keyed equi-join instead.
    */
  def enrichJoin(events: DataFrame, dim: DataFrame,
                 eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left")
}
