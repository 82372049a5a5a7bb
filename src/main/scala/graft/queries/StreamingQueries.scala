package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.{Det, Scratch, Tables}
import graft.streaming.{StreamDedup, StreamJoin, WindowTopK}

/** SURVEY.md §2 rows 44–47: streaming window semantics.
  *
  * q44–q46 are the batch-checked forms — `window()` / session
  * gaps-and-islands produce identical results in batch and micro-batch
  * execution for on-time data, so the DuckDB oracle grades the window
  * semantics exactly. q47 is the true Structured Streaming runtime:
  * MemoryStream micro-batches through a watermark in append mode, where
  * emission timing and late-row dropping are observable.
  *
  * Scale: event-time windowing shuffles once on (window, key) with partial
  * aggregation; session windows shuffle once on user. Streaming state at
  * 100 TB/day is bounded by the watermark horizon — exactly why q47's
  * 10-minute watermark matters: state eviction is what makes the job run
  * forever.
  */
object StreamingQueries extends org.apache.spark.internal.Logging {

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  // ---- 44. tumbling window (batch-checked) -------------------------------
  val q44 = Q(
    "q44_tumbling_window",
    (s, d) => Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Det.exactSum(col("value")).as("sum_val"))
      .select(date_format(col("w.start"), fmt).as("ws"), col("event_type"),
        col("n"), col("sum_val"))
      .orderBy("ws", "event_type"),
    Some("""SELECT strftime(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ws,
                   event_type, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
            FROM events GROUP BY 1, 2 ORDER BY ws, event_type"""))

  // ---- 45. sliding window (batch-checked) --------------------------------
  // 1h windows sliding 30min: every event lands in exactly 2 windows whose
  // starts are bucket30(ts) and bucket30(ts) − 30min.
  val q45 = Q(
    "q45_sliding_window",
    (s, d) => Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), fmt).as("ws"), col("event_type"), col("n"))
      .orderBy("ws", "event_type"),
    Some("""WITH b AS (
              SELECT time_bucket(INTERVAL '30 minutes', ts::TIMESTAMP) AS w0, event_type FROM events
              UNION ALL
              SELECT time_bucket(INTERVAL '30 minutes', ts::TIMESTAMP) - INTERVAL '30 minutes', event_type FROM events)
            SELECT strftime(w0, '%Y-%m-%d %H:%M:%S') AS ws, event_type, count(*) AS n
            FROM b GROUP BY 1, 2 ORDER BY ws, event_type"""))

  // ---- 46. session window (batch gaps-and-islands) -----------------------
  // Per-user sessions with a 30-minute inactivity gap. The batch form is the
  // classic lag + running-sum session id; the streaming equivalent
  // (session_window) is exercised in StreamingSpec.
  val q46 = Q(
    "q46_session_window",
    (s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val cume = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("prev", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev")) > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("sid", sum(col("new_sess")).over(cume))
        .groupBy("user_id", "sid")
        .agg(min(col("ts")).as("t0"), count(lit(1)).as("n_events"),
          Det.exactSum(col("value")).as("sum_val"))
        .select(col("user_id"), date_format(col("t0"), fmt).as("session_start"),
          col("n_events"), col("sum_val"))
        .orderBy("user_id", "session_start")
    },
    Some("""WITH e AS (
              SELECT user_id, event_id, ts::TIMESTAMP AS t, value,
                     lag(ts::TIMESTAMP) OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id) AS prev
              FROM events),
            s AS (
              SELECT *, CASE WHEN prev IS NULL OR epoch_us(t) - epoch_us(prev) > 1800000000
                             THEN 1 ELSE 0 END AS ns
              FROM e),
            g AS (
              SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM s)
            SELECT user_id, strftime(min(t), '%Y-%m-%d %H:%M:%S') AS session_start,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
            FROM g GROUP BY user_id, sid ORDER BY user_id, session_start"""))

  // ---- 47. true streaming runtime: watermark + append mode ---------------
  // Feeds the events table through a MemoryStream in two event-time-ordered
  // micro-batches (plus a deliberately late replay of the oldest event,
  // which the 10-minute watermark must drop), runs a tumbling count in
  // append mode, and returns the emitted rows. Append emission and late-row
  // dropping are runtime behavior — no SQL oracle exists, so the driver's
  // rows-only check applies; StreamingSpec pins the semantics.
  // Cost per micro-batch (`triggerExecution` ms, of it `addBatch`, the
  // batch's one stateful job; sf0.01, local[4], three warm runs): data
  // batch 1 (5,000 rows) 750–930 (580–730), its idle batch 430–540
  // (335–430), data batch 2 (5,001 rows) 430–500 (340–415), its idle batch
  // 330–550 (250–430). The offset and commit logs add about 65 ms to each.
  // The idle batches stay: only the trailing one emits the windows that
  // the last watermark closes.
  val q47 = Q(
    "q47_stream_watermark",
    (s, d) => {
      import s.implicits._
      val rows = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("event_type"))
        .as[(Long, java.sql.Timestamp, String)]
        .collect()
        .sortBy(r => (r._2.getTime, r._1))
      val (batch1, batch2) = rows.splitAt(rows.length / 2)
      // batch2 plus a late replay of the globally oldest event: its event
      // time is far below the watermark after batch1, so append mode must
      // drop it rather than re-open the closed window.
      memorySinkRun(s, "q47", Seq(batch1.toSeq, batch2.toSeq :+ rows.head), None) {
        _.toDF("event_id", "ts", "event_type")
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(date_format(col("w.start"), fmt).as("ws"), col("event_type"), col("n"))
      }.orderBy("ws", "event_type")
    },
    None)

  // ---- 59. streaming exact dedup (runtime; added r6) ----------------------
  // The documents corpus through graft.streaming.StreamDedup in two
  // micro-batches plus a replay of the first document, whose content is
  // already in dedup state and must be dropped. Emitted rows = one survivor
  // per distinct normalized text — deterministic COUNT (which ids survive a
  // duplicate group is not contractual). Runtime behavior → no SQL oracle;
  // StreamDedupSpec pins the semantics incl. watermark state eviction.
  val q59 = Q(
    "q59_stream_dedup",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().sortBy(_._1)
      val base = java.sql.Timestamp.valueOf("2026-01-01 10:00:00").getTime
      val rows = docs.map { case (id, t) =>
        (id, new java.sql.Timestamp(base + id * 1000L), t)
      }
      val (batch1, batch2) = rows.splitAt(rows.length / 2)
      val horizonMin = 10
      // batch2 + replay: the first doc's content is in state (its
      // 10-minute expiry is ahead of the watermark) → dropped as dup
      memorySinkRun(s, "q59", Seq(batch1.toSeq, batch2.toSeq :+ rows.head), Some(horizonMin)) {
        in => StreamDedup.dedupWithinWatermark(
          in.toDF("doc_id", "ts", "text"), "ts", "text", s"$horizonMin minutes")
          .select(col("doc_id"), col("fp"))
      }.orderBy("doc_id")
    },
    None)

  // ---- 70. streaming NEAR-dup dedup (runtime; added r7) --------------------
  // The corpus through StreamDedup.nearDedupWithinWatermark (single MinHash
  // band as the state key — the streaming counterpart of q43's batch LSH):
  // batch 1 streams the corpus, batch 2 appends one token to each of docs
  // 0–49 (J = n/(n+1) near-dups, ids offset 10⁶). A variant whose band
  // fingerprint collides with its source — P = J^4, most of them — drops;
  // the emitted count is deterministic (fixed seeds, fixed data). Runtime
  // behavior → no SQL oracle; StreamDedupSpec pins the semantics.
  val q70 = Q(
    "q70_stream_neardup",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().sortBy(_._1)
      val base = java.sql.Timestamp.valueOf("2026-01-01 10:00:00").getTime
      val batch1 = docs.map { case (id, t) =>
        (id, new java.sql.Timestamp(base + id * 1000L), t)
      }
      val lastTs = base + docs.length * 1000L
      val batch2 = docs.take(50).map { case (id, t) =>
        (id + 1000000L, new java.sql.Timestamp(lastTs + id * 1000L), t + " xtra")
      }
      val horizonMin = 60
      memorySinkRun(s, "q70", Seq(batch1.toSeq, batch2.toSeq), Some(horizonMin)) {
        in => StreamDedup.nearDedupWithinWatermark(
          in.toDF("doc_id", "ts", "text"), "ts", "text", s"$horizonMin minutes")
          .select(col("doc_id"), col("fp"))
      }.orderBy("doc_id")
    },
    None)

  private val ShufflePartitions = "spark.sql.shuffle.partitions"
  private val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** The memory-sink lifecycle of q47, q59 and q70: feeds `batches` in
    * order through a MemoryStream into `plan` (whose input columns are
    * `_1`, `_2` = event time, `_3`), one `processAllAvailable` per batch,
    * stops the query, and returns the memory sink `graft_<key>_sink`.
    *
    * - State partitions: min(4, the session's shuffle partitions). The
    *   state store commits once per partition per micro-batch, and the
    *   count is baked into the checkpoint at first start.
    * - Idle (no-data) micro-batches: a dedup plan (`dedupHorizonMin`
    *   set) runs without them when the event times fed before the last
    *   batch span less than 2 × the horizon; the
    *   [[graft.streaming.StreamDedup]] doc shows the output is then the
    *   same. Windowed plans (`None`) keep them on.
    * - Both confs are set for the run only and restored afterwards, also
    *   when a batch throws; the checkpoint is deleted once the query has
    *   stopped (a memory sink cannot be restarted from it).
    *
    * Logs one INFO line per run: state partitions, the idle-batch choice
    * and its reason, and each micro-batch's id, input rows and
    * `triggerExecution` ms.
    */
  private[graft] def memorySinkRun(s: SparkSession, key: String,
      batches: Seq[Seq[(Long, java.sql.Timestamp, String)]],
      dedupHorizonMin: Option[Int])(plan: DataFrame => DataFrame): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val sinkName = s"graft_${key}_sink"
    val statePartitions = math.min(4, s.conf.get(ShufflePartitions).toInt)
    val fedBeforeLast = batches.dropRight(1).flatten.map(_._2.getTime)
    val spanMs = if (fedBeforeLast.isEmpty) 0L else fedBeforeLast.max - fedBeforeLast.min
    val idle = dedupHorizonMin.forall(h => spanMs >= 2 * h * 60000L)
    // a prior run in this session leaves its memory-sink view behind
    s.catalog.dropTempView(sinkName)
    val prior = Seq(ShufflePartitions, NoDataBatches).map(k => k -> s.conf.getAll.get(k))
    s.conf.set(ShufflePartitions, statePartitions.toString)
    s.conf.set(NoDataBatches, idle.toString)
    val progress = try Scratch.scoped(s"graft_${key}_ckpt") { ckpt =>
      // the first batch is fed before the start, so the first trigger has
      // data and reports no empty progress event
      stream.addData(batches.head)
      val query = plan(stream.toDF()).writeStream
        .format("memory").queryName(sinkName).outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
      try {
        query.processAllAvailable()
        batches.tail.foreach { b => stream.addData(b); query.processAllAvailable() }
      } finally query.stop()
      query.recentProgress
    } finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
    val why = dedupHorizonMin.fold("windowed plan: emits on the watermark")(h =>
      s"span ${spanMs / 1000} s ${if (idle) ">=" else "<"} 2 x horizon = ${2 * h * 60} s")
    logInfo(s"$sinkName: $statePartitions state partitions, idle batches " +
      s"${if (idle) "on" else "off"} ($why); batches " +
      progress.map(p => s"${p.batchId}: ${p.numInputRows} rows, " +
        s"${p.durationMs.get("triggerExecution")} ms").mkString("[", "; ", "]"))
    s.table(sinkName)
  }

  // ---- 74. typed stateful sessionization, batch-graded (added r7) ----------
  // graft.streaming.Sessionize.sessionCounts — flatMapGroupsWithState with a
  // per-user SessionState — executed on the BATCH events table, where the
  // typed state fold must reproduce the gaps-and-islands SQL exactly: per
  // user, n_sessions = count of >30-min gaps + 1, n_events = count. That
  // gives the custom-state operator a full DuckDB oracle; its STREAMING
  // runtime (state carried across micro-batches, update-mode emission) is
  // pinned separately in StatefulStreamingSpec.
  val q74 = Q(
    "q74_stateful_sessionize",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"), col("user_id"))
        .as[graft.streaming.Sessionize.UserEvent]
      graft.streaming.Sessionize.sessionCounts(ev, 30).toDF()
        .orderBy("user_id")
    },
    Some("""WITH e AS (
              SELECT user_id, event_id, ts::TIMESTAMP AS t,
                     lag(ts::TIMESTAMP) OVER (PARTITION BY user_id
                                              ORDER BY ts::TIMESTAMP, event_id) AS prev
              FROM events),
            s AS (
              SELECT user_id,
                     CASE WHEN prev IS NULL OR epoch_us(t) - epoch_us(prev) > 1800000000
                          THEN 1 ELSE 0 END AS ns
              FROM e)
            SELECT user_id, sum(ns)::BIGINT AS n_sessions, count(*) AS n_events
            FROM s GROUP BY user_id ORDER BY user_id"""))

  // ---- 90. stream-stream interval join, batch-graded (added r8) ------------
  // graft.streaming.StreamJoin.attributionJoin — dual-watermark time-interval
  // join (each purchase back to same-user views in the preceding 24 h),
  // executed on BATCH frames where EliminateEventTimeWatermark reduces it to
  // a plain equi-join + range residual, giving the operator a full DuckDB
  // oracle; the STREAMING runtime (cross-batch pairing, bounded join state,
  // behind-watermark non-emission) is pinned separately in StreamJoinSpec.
  val q90 = Q(
    "q90_stream_interval_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      StreamJoin.attributionJoin(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"), 24)
        .orderBy("view_id", "purchase_id")
    },
    Some("""SELECT a.event_id AS view_id, b.event_id AS purchase_id,
                   a.user_id,
                   epoch_us(b.ts::TIMESTAMP) - epoch_us(a.ts::TIMESTAMP) AS gap_us
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND a.event_type = 'view' AND b.event_type = 'purchase'
             AND b.ts::TIMESTAMP >= a.ts::TIMESTAMP
             AND b.ts::TIMESTAMP <= a.ts::TIMESTAMP + INTERVAL 24 HOURS
            ORDER BY view_id, purchase_id"""))

  // ---- 103. stream-static enrichment join, batch-graded (added r8) ---------
  // graft.streaming.StreamJoin.enrichJoin — broadcast dimension lookup on the
  // event stream (STATELESS on a stream: per-micro-batch map-side hash probe,
  // no watermark/state store), executed on the BATCH events table where the
  // same plan is a broadcast-hash LEFT join, giving the operator a full
  // DuckDB oracle; the per-micro-batch runtime is pinned in StreamJoinSpec.
  // Aggregation: per (segment, event_type) traffic rollup with the
  // round-terms-then-DECIMAL-sum protocol on the double `value`.
  val q103 = Q(
    "q103_stream_enrich",
    (s, d) => {
      val ev = Tables.events(s, d)
      val dim = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      StreamJoin.enrichJoin(ev, dim, "user_id", "c_custkey")
        .groupBy(
          coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(round(col("value"), 6).cast("decimal(28,6)")).cast("double"), 6)
            .as("total_value"))
        .orderBy("segment", "event_type")
    },
    Some("""SELECT COALESCE(c_mktsegment, 'UNKNOWN') AS segment, event_type,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users,
                   ROUND(sum(ROUND(value, 6)::DECIMAL(28,6))::DOUBLE, 6) AS total_value
            FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** q109 (added r8) — DATE-SPINE GAP FILL: hourly counts of high-value
    * errors ZERO-FILLED over the complete hour range of the corpus (445
    * of 720 hours are empty at sf0.01 — the gaps are real). The spine is
    * `sequence(min_hour, max_hour, 1 hour)` exploded from the 1-row
    * bounds aggregate — O(hours) rows generated ON the cluster whatever
    * the data size, never a driver loop — and the filtered counts join
    * back LEFT so absent hours surface as explicit zeros. Scale: the only
    * full-scan work is the bounds agg and the filtered count agg (both
    * partial+final); spine and counts are both O(hours) relations, so the
    * gap-fill join broadcasts. Dashboards and anomaly detectors need the
    * zero rows — a groupBy alone silently omits exactly the hours that
    * matter.
    */
  val q109 = Q(
    "q109_gapfill_spine",
    (s, d) => {
      val ev = Tables.events(s, d)
      val bounds = ev.agg(
        date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      val spine = bounds.select(
        explode(sequence(col("lo"), col("hi"), expr("interval 1 hour")))
          .as("hr"))
      val counts = ev
        .filter(col("event_type") === "error" && col("value") > 90)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n_errors"),
          Det.exactSum(col("value")).as("sum_value"))
      spine.join(counts, Seq("hr"), "left")
        .select(date_format(col("hr"), fmt).as("hr"),
          coalesce(col("n_errors"), lit(0L)).as("n_errors"),
          coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
        .orderBy("hr")
    },
    Some("""WITH b AS (SELECT date_trunc('hour', min(ts::TIMESTAMP)) AS lo,
                              date_trunc('hour', max(ts::TIMESTAMP)) AS hi
                       FROM events),
                 spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b),
                 c AS (SELECT date_trunc('hour', ts::TIMESTAMP) AS hr,
                              count(*) AS n_errors,
                              (sum(value::DECIMAL(18,2)))::DOUBLE AS sum_value
                       FROM events WHERE event_type = 'error' AND value > 90
                       GROUP BY 1)
            SELECT strftime(spine.hr, '%Y-%m-%d %H:%M:%S') AS hr,
                   coalesce(c.n_errors, 0) AS n_errors,
                   coalesce(c.sum_value, 0.0) AS sum_value
            FROM spine LEFT JOIN c USING (hr) ORDER BY hr"""))

  /** q122 (added r8) — WINDOWED TOP-K ([[graft.streaming.WindowTopK]]):
    * top-3 event types per tumbling hour, batch-graded (every window
    * closed) like q44–q46 — the per-window leaderboard.
    */
  val q122 = Q(
    "q122_window_topk",
    (s, d) => WindowTopK.batchTopK(Tables.events(s, d), "ts", "event_type", 60, 3),
    Some("""WITH c AS (
              SELECT strftime(time_bucket(INTERVAL '60 minutes', ts::TIMESTAMP),
                              '%Y-%m-%d %H:%M:%S') AS ws,
                     event_type, count(*) AS n
              FROM events GROUP BY 1, 2),
            r AS (SELECT ws, event_type, n,
                         row_number() OVER (PARTITION BY ws
                                            ORDER BY n DESC, event_type) AS rnk
                  FROM c)
            SELECT ws, rnk, event_type, n FROM r
            WHERE rnk <= 3 ORDER BY ws, rnk"""))

  /** q129 (added r8) — EXACTLY-ONCE STREAMING SINK
    * ([[graft.streaming.IdempotentSink]]): documents streamed through a
    * `foreachBatch` parquet sink in two micro-batches, then batch 0 is
    * REPLAYED with the same id — structured streaming's at-least-once
    * failure contract — before reading the sink back for per-lang totals.
    * The batch-id-partitioned dynamic overwrite makes the replay replace
    * its own previous attempt instead of appending, so the oracle (plain
    * per-lang counts over the table) grades the END STATE: an append sink
    * would double batch 0's rows and hash-mismatch. The sink side is the
    * last leg of the streaming story (sources q47, transforms q44–q46,
    * state q59/q70/q74/q122 — and now the write path).
    */
  val q129 = Q(
    "q129_stream_sink",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .as[(Long, String, Long)].collect().sortBy(_._1)
      val (b1, b2) = docs.splitAt(docs.length / 2)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val stream = MemoryStream[(Long, String, Long)]
      // the per-lang rows are read out of the sink before it is deleted
      // and returned as a local relation of the same schema and order
      Scratch.scoped("graft_q129_sink") { out =>
        Scratch.scoped("graft_q129_ckpt") { ckpt =>
          val query = stream.toDF().toDF("doc_id", "lang", "n_chars").writeStream
            .foreachBatch((df: DataFrame, id: Long) =>
              graft.streaming.IdempotentSink.writeBatch(out)(df, id))
            .option("checkpointLocation", ckpt)
            .outputMode("append").start()
          try {
            stream.addData(b1.toSeq); query.processAllAvailable()
            stream.addData(b2.toSeq); query.processAllAvailable()
          } finally query.stop()
        }
        // the crash contract: batch 0 delivered AGAIN with the same id
        graft.streaming.IdempotentSink.writeBatch(out)(
          b1.toSeq.toDF("doc_id", "lang", "n_chars"), 0L)
        val perLang = graft.streaming.IdempotentSink.read(s, out)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
          .orderBy("lang")
        s.createDataFrame(java.util.Arrays.asList(perLang.collect(): _*), perLang.schema)
      }
    },
    Some("""SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars
            FROM documents GROUP BY lang ORDER BY lang"""))

  /** q145 (added r9) — SESSION TABLE (batch face of
    * [[graft.streaming.Sessionize.sessionRows]]): one row per closed
    * session `(user_id, session_start, session_end, n_events)` — the sink
    * shape the streaming operator emits at watermark close, graded here
    * relationally so the emit-row semantics are oracle-checked, not only
    * spec-pinned (StatefulStreamingSpec separately proves the streaming
    * fold equals this gaps-and-islands result on the same events). q46
    * grades the session AGGREGATE face; this grades the row face.
    */
  val q145 = Q(
    "q145_session_table",
    (s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val cume = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("prev", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev")) > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("sid", sum(col("new_sess")).over(cume))
        .groupBy("user_id", "sid")
        .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("t0"), fmt).as("session_start"),
          date_format(col("t1"), fmt).as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },
    Some("""WITH e AS (
              SELECT user_id, event_id, ts::TIMESTAMP AS t,
                     lag(ts::TIMESTAMP) OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id) AS prev
              FROM events),
            s AS (
              SELECT *, CASE WHEN prev IS NULL OR epoch_us(t) - epoch_us(prev) > 1800000000
                             THEN 1 ELSE 0 END AS ns
              FROM e),
            g AS (
              SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM s)
            SELECT user_id, strftime(min(t), '%Y-%m-%d %H:%M:%S') AS session_start,
                   strftime(max(t), '%Y-%m-%d %H:%M:%S') AS session_end,
                   count(*) AS n_events
            FROM g GROUP BY user_id, sid ORDER BY user_id, session_start"""))

  /** q148 (added r9, fixed r10) — TIME-DECAYED FEATURE AGGREGATION: per
    * user, event count and exponentially decayed value sum (half-life
    * 1 day) anchored at the corpus's last event date — the feature-store
    * primitive behind "recent activity" features.
    *
    * Engine exactness (SURVEY §2.1 rule 8, the q86 protocol — 3rd
    * appearance of the rounding-tie class): `round(value·2^-k, 6)` of a
    * 2-dp value lands EXACTLY on a 6-dp decimal tie for every odd-cent
    * value with k ≥ 5 (the true product has k+2 decimal digits), and at
    * true ties Spark's exact-binary HALF_UP disagrees with DuckDB's
    * float `·1e6 → std::round` per row (172/10000 terms at sf0.01). So
    * the per-term round is done in EXACT INTEGER arithmetic in both
    * engines: cents = round(value·100) :: BIGINT is exact (value is
    * 2-dp; float noise ≤ 4e-12 cents, verified on sf0.1), then the
    * half-up 6-dp weight in micro-units is
    *   w_micro = (2·cents·10^4 + 2^k) div 2^(k+1)
    * with k capped at 40 (for k ≥ 30 the weight is already 0 for any
    * value < 549755, so the cap changes nothing; it bounds the shift so
    * int64 never overflows: 2·cents·10^4 + 2^40 < 2^42). The exact
    * integer micro-sums then cast to double (< 2^53, lossless) and one
    * final /10^6 + round(,6) recovers the 6-dp decimal identically in
    * both engines (the true value IS a 6-dp decimal, so no new ties).
    * Plan: the anchor date is a 1-row broadcast (q85), then one
    * partial+final agg over the scan.
    */
  val q148 = Q(
    "q148_time_decay_features",
    (s, d) => {
      val ev = Tables.events(s, d)
      val anchor = ev.agg(max(to_date(col("ts"))).as("d0"))
      ev.crossJoin(broadcast(anchor))
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .withColumn("k",
          least(datediff(col("d0"), to_date(col("ts"))), lit(40)).cast("int"))
        .withColumn("w_micro",
          expr("(2L * cents * 10000L + shiftleft(1L, k)) div shiftleft(1L, k + 1)"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("w_micro").cast("decimal(28,0)")).cast("double") / 1e6, 6)
            .as("decayed_value"))
        .orderBy("user_id")
    },
    Some("""WITH a AS (SELECT max(ts::DATE) AS d0 FROM events),
            t AS (SELECT user_id,
                         CAST(round(value * 100) AS BIGINT) AS cents,
                         least(date_diff('day', ts::DATE, d0), 40) AS k
                  FROM events CROSS JOIN a),
            w AS (SELECT user_id,
                         (2 * cents * 10000 + (1::BIGINT << k)) // (1::BIGINT << (k + 1)) AS w_micro
                  FROM t)
            SELECT user_id, count(*) AS n_events,
                   round(sum(w_micro)::DOUBLE / 1000000, 6) AS decayed_value
            FROM w GROUP BY user_id ORDER BY user_id"""))

  /** q149 (added r9) — RETENTION COHORTS: users grouped by first-active
    * week, tracked across week offsets — the (cohort × offset →
    * active-user count) matrix every product/engagement dashboard is
    * built on, and for a training-data pipeline the freshness profile of
    * its event sources. Week indexing is DAY-ARITHMETIC from the global
    * min date (`floor(days/7)`), never `date_trunc('week')` — week-start
    * conventions are an engine-portability trap the integer form
    * sidesteps. Plan: one distinct (user, week) pass; first-week is a
    * per-user min re-joined (both relations user-sized); output is
    * cohort-count-sized.
    */
  val q149 = Q(
    "q149_retention_cohorts",
    (s, d) => {
      val ev = Tables.events(s, d)
      val origin = ev.agg(min(to_date(col("ts"))).as("d0"))
      val uw = ev.crossJoin(broadcast(origin))
        .select(col("user_id"),
          floor(datediff(to_date(col("ts")), col("d0")) / 7.0).cast("long").as("week_idx"))
        .distinct()
      val first = uw.groupBy(col("user_id").as("fu"))
        .agg(min(col("week_idx")).as("cohort_week"))
      uw.join(first, col("user_id") === col("fu"))
        .groupBy(col("cohort_week"), (col("week_idx") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active_users"))
        .orderBy("cohort_week", "week_offset")
    },
    Some("""WITH o AS (SELECT min(ts::DATE) AS d0 FROM events),
            uw AS (SELECT DISTINCT user_id,
                          floor(date_diff('day', d0, ts::DATE) / 7.0)::BIGINT AS week_idx
                   FROM events CROSS JOIN o),
            f AS (SELECT user_id, min(week_idx) AS cohort_week
                  FROM uw GROUP BY user_id)
            SELECT f.cohort_week, uw.week_idx - f.cohort_week AS week_offset,
                   count(DISTINCT uw.user_id) AS n_active_users
            FROM uw JOIN f ON uw.user_id = f.user_id
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  def all: Seq[Q] = Seq(q44, q45, q46, q47, q59, q70, q74, q90, q103, q109,
    q122, q129, q145, q148, q149)
}
