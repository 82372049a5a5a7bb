package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamJoin

/** Streaming runtime of the interval join (q90's batch grade cannot see
  * these): pairs formed ACROSS micro-batches from buffered state, and a
  * view arriving behind the watermark producing nothing.
  */
class StreamJoinSpec extends SparkSpec {

  private case class Ev(event_id: Long, user_id: Long, ts: java.sql.Timestamp)
  private def ts(t: String) = java.sql.Timestamp.valueOf(t)

  test("interval join pairs events across micro-batches and equals the batch form") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext

    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "user_id", "ts")
    val joined = StreamJoin.attributionJoin(
      shape(views.toDF()), shape(purchases.toDF()), 24)
    val q = joined.writeStream.format("memory").queryName("sj_cross")
      .outputMode("append").start()
    val vRows = Seq(
      (1L, 7L, ts("2024-01-01 10:00:00")),
      (2L, 7L, ts("2024-01-01 11:00:00")),
      (3L, 8L, ts("2024-01-01 10:30:00")))
    val pRows = Seq(
      (101L, 7L, ts("2024-01-01 12:00:00")),   // joins views 1 and 2
      (102L, 8L, ts("2024-01-02 09:00:00")),   // joins view 3 (22.5 h later)
      (103L, 8L, ts("2024-01-03 11:00:00")))   // beyond 24 h of view 3 → no pair
    try {
      // views land in batch 1, purchases only in batch 2 — every emitted
      // pair therefore crosses a micro-batch boundary through join state
      views.addData(vRows); q.processAllAvailable()
      purchases.addData(pRows); q.processAllAvailable()
    } finally q.stop()

    val streamed = s.table("sj_cross")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = StreamJoin.attributionJoin(
        shape(vRows.toDF()), shape(pRows.toDF()), 24)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed === batch)
    assert(streamed.map(t => (t._1, t._2)) === Set((1L, 101L), (2L, 101L), (3L, 102L)))
  }

  test("stream-static enrichment joins every micro-batch against the dim, keeps unmatched (r8)") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext

    val dim = Seq((7L, "BUILDING"), (8L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val events = MemoryStream[(Long, Long, Double)]
    val enriched = StreamJoin.enrichJoin(
      events.toDF().toDF("event_id", "user_id", "value"),
      dim, "user_id", "c_custkey")
    val q = enriched.writeStream.format("memory").queryName("sj_enrich")
      .outputMode("append").start()
    try {
      // two micro-batches: the stateless join must probe the dim in EACH,
      // and user 99 (no dim row) must survive with a null segment
      events.addData((1L, 7L, 1.5), (2L, 99L, 2.5)); q.processAllAvailable()
      events.addData((3L, 8L, 3.5)); q.processAllAvailable()
    } finally q.stop()
    val got = s.table("sj_enrich")
      .select("event_id", "c_mktsegment")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(got === Set(
      (1L, Some("BUILDING")), (2L, None), (3L, Some("MACHINERY"))))
  }

  test("a view arriving behind the watermark is dropped, not joined") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext

    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "user_id", "ts")
    // 1-hour horizon keeps the watermark delay small so one far-future
    // event pushes the watermark decisively past the late view
    val q = StreamJoin.attributionJoin(
        shape(views.toDF()), shape(purchases.toDF()), 1)
      .writeStream.format("memory").queryName("sj_late")
      .outputMode("append").start()
    try {
      // b1: both sides observe day-3 events → watermark ≈ day 3 − 1 h
      views.addData((1L, 5L, ts("2024-01-03 10:00:00")))
      purchases.addData((100L, 99L, ts("2024-01-03 10:00:00")))
      q.processAllAvailable()
      // b2: a day-1 view and its in-horizon day-1 purchase arrive — both
      // are far behind the watermark, so the state store never admits the
      // view and no pair may be emitted
      views.addData((2L, 6L, ts("2024-01-01 10:00:00")))
      purchases.addData((101L, 6L, ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
    } finally q.stop()
    val late = s.table("sj_late").filter(col("user_id") === 6L).collect()
    assert(late.isEmpty,
      s"behind-watermark view must not join: ${late.mkString(", ")}")
  }
}
