package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Sessionize
import graft.streaming.Sessionize.UserEvent

/** Custom streaming state (flatMapGroupsWithState) and watermarked
  * dedup — the stateful-API surface beyond windowed aggregation.
  */
class StatefulStreamingSpec extends SparkSpec {

  private def eventRows = {
    val s = spark
    import s.implicits._
    Tables.events(spark, sf0001)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"), col("user_id"))
      .as[UserEvent].collect().sortBy(e => (e.ts_us, e.event_id))
  }

  test("flatMapGroupsWithState session counts equal the batch gaps-and-islands form") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext

    // ground truth: q46's batch sessionization, reduced to per-user counts
    val batch = SparkEntry.queries("q46_session_window")(spark, sf0001)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val rows = eventRows
    // the cross-batch state handoff is the part the batch grade cannot
    // see: split the event-time-ordered stream BETWEEN two consecutive
    // events of one user that belong to the same 30-min session, so at
    // least one session genuinely spans the micro-batch boundary and the
    // equality below exercises the state carry-over (a blind half-split
    // gave no spanning session on this data)
    val gapUs = 30L * 60L * 1000000L
    val boundaryEvent = rows.groupBy(_.user_id).valuesIterator.flatMap { es =>
      es.sliding(2).collectFirst { case Array(a, b) if b.ts_us - a.ts_us <= gapUs => b }
    }.toSeq.headOption
    assert(boundaryEvent.nonEmpty,
      "no user has two consecutive events within one session — data cannot test cross-batch state")
    val (b1, b2) = rows.splitAt(rows.indexWhere(_.event_id == boundaryEvent.get.event_id))
    assert(b1.nonEmpty && b2.nonEmpty)
    val stream = MemoryStream[UserEvent]
    val q = Sessionize.sessionCounts(stream.toDS(), 30).writeStream
      .format("memory").queryName("sess_state").outputMode("update").start()
    try {
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()

    // last update per user is the final total
    val streamed = s.table("sess_state")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("n_events").desc)))
      .filter(col("rn") === 1).drop("rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("sessionRows emits one row per closed session: gap break, cross-batch carry, watermark close") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext

    def us(t: String) = java.sql.Timestamp.valueOf(t).getTime * 1000L
    // gap 30 min, watermark delay 10 min
    val stream = MemoryStream[UserEvent]
    val q = Sessionize.sessionRows(stream.toDS(), 30, 10).writeStream
      .format("memory").queryName("sess_rows").outputMode("append").start()
    try {
      // b1+b2: user 1's first session spans the batch boundary (10:00,
      // 10:10 | 10:20) — state must carry the open session across batches
      stream.addData(UserEvent(1L, us("2024-01-01 10:00:00"), 1L),
        UserEvent(2L, us("2024-01-01 10:10:00"), 1L))
      q.processAllAvailable()
      assert(s.table("sess_rows").count() === 0L,
        "open session must stay silent")
      stream.addData(UserEvent(3L, us("2024-01-01 10:20:00"), 1L))
      q.processAllAvailable()
      assert(s.table("sess_rows").count() === 0L,
        "session extended across batches must still be silent")
      // b3: 12:00 is a >30-min gap — the first session is final and emits
      // via the in-data gap break; (12:00) opens session 2
      stream.addData(UserEvent(4L, us("2024-01-01 12:00:00"), 1L))
      q.processAllAvailable()
      val afterGap = s.table("sess_rows").as[Sessionize.SessionRow].collect().toSet
      assert(afterGap === Set(Sessionize.SessionRow(
        1L, us("2024-01-01 10:00:00"), us("2024-01-01 10:20:00"), 3L)),
        s"gap break should emit exactly the first session, got $afterGap")
      // b4: an unrelated user pushes the watermark to 12:50, past session
      // 2's close horizon (12:00 + 30 min) — the timeout emits it and
      // drops user 1's state
      stream.addData(UserEvent(5L, us("2024-01-01 13:00:00"), 99L))
      q.processAllAvailable()
    } finally q.stop()

    val rows = s.table("sess_rows").as[Sessionize.SessionRow].collect().toSet
    assert(rows === Set(
      Sessionize.SessionRow(1L, us("2024-01-01 10:00:00"), us("2024-01-01 10:20:00"), 3L),
      Sessionize.SessionRow(1L, us("2024-01-01 12:00:00"), us("2024-01-01 12:00:00"), 1L)),
      s"watermark close should emit session 2 exactly once, got $rows")
  }

  test("sessionRows over the events table equals the batch gaps-and-islands sessions") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext

    val rows = eventRows
    val gapUs = 30L * 60L * 1000000L
    // batch ground truth: per-user (start, end, n) via a direct fold over
    // the event-time-ordered stream — q46's gaps-and-islands, row shape
    val expected = rows.groupBy(_.user_id).flatMap { case (u, es) =>
      val sessions = scala.collection.mutable.ArrayBuffer.empty[Sessionize.SessionRow]
      var open: Option[Sessionize.OpenSession] = None
      es.foreach { e =>
        open = open match {
          case Some(st) if e.ts_us - st.lastUs > gapUs =>
            sessions += Sessionize.SessionRow(u, st.startUs, st.lastUs, st.nEvents)
            Some(Sessionize.OpenSession(e.ts_us, e.ts_us, 1L))
          case Some(st) => Some(Sessionize.OpenSession(st.startUs, e.ts_us, st.nEvents + 1L))
          case None => Some(Sessionize.OpenSession(e.ts_us, e.ts_us, 1L))
        }
      }
      open.foreach(st => sessions += Sessionize.SessionRow(u, st.startUs, st.lastUs, st.nEvents))
      sessions
    }.toSet

    // stream the same events in three event-time-ordered batches, then a
    // far-future sentinel (excluded user) that drags the watermark past
    // every open session's close horizon so ALL real sessions flush
    val (b1, rest) = rows.splitAt(rows.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 3)
    val sentinel = UserEvent(-1L, rows.last.ts_us + 100L * gapUs, -1L)
    val stream = MemoryStream[UserEvent]
    val q = Sessionize.sessionRows(stream.toDS(), 30, 10).writeStream
      .format("memory").queryName("sess_rows_full").outputMode("append").start()
    try {
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq); q.processAllAvailable()
      stream.addData(b3.toSeq); q.processAllAvailable()
      stream.addData(sentinel); q.processAllAvailable()
    } finally q.stop()

    val streamed = s.table("sess_rows_full").as[Sessionize.SessionRow]
      .filter(col("user_id") =!= -1L).collect().toSet
    assert(streamed === expected,
      s"missing=${(expected -- streamed).take(3)} extra=${(streamed -- expected).take(3)}")
  }

  test("dropDuplicatesWithinWatermark drops a replayed event inside the horizon") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext

    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = stream.toDF().toDF("id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = deduped.writeStream.format("memory").queryName("ddww")
      .outputMode("append").start()
    try {
      stream.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      // replay id=1 within the watermark horizon → dropped
      stream.addData((1L, ts("2024-01-01 10:02:00")), (3L, ts("2024-01-01 10:03:00")))
      q.processAllAvailable()
    } finally q.stop()
    val ids = s.table("ddww").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L))
  }
}
