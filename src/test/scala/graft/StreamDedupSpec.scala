package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryListener}
import graft.queries.StreamingQueries.memorySinkRun
import graft.streaming.StreamDedup

/** Runtime semantics of the streaming exact-dedup operator: in-batch and
  * within-horizon duplicates are dropped, and — the bounded-state property
  * that makes the operator viable on an infinite stream — a key whose state
  * the watermark has evicted is emitted AGAIN when it reappears. The state
  * is a sliding-horizon dedup, not a global one, by design.
  */
class StreamDedupSpec extends SparkSpec {

  private val base = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
  private def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
  private def atSec(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000L)
  private type Fed = (Long, java.sql.Timestamp, String)
  private val NoData = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Runs `body` and counts the progress events a session listener sees
    * for the streaming query named `name`: one per micro-batch run.
    */
  private def progressEvents[A](name: String)(body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == name) n.incrementAndGet()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val a = body
      org.apache.spark.GraftListenerDrain(spark.sparkContext)
      (a, n.get)
    } finally spark.streams.removeListener(listener)
  }

  /** The memory-sink lifecycle spelled out, with idle batches forced on
    * or off and 4 state partitions; returns the sink's (doc_id, fp) rows.
    */
  private def inlineRun(sinkName: String, batches: Seq[Seq[Fed]], idle: Boolean)(
      plan: DataFrame => DataFrame): Seq[(Long, Long)] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Fed]
    spark.catalog.dropTempView(sinkName)
    withSQLConf("spark.sql.shuffle.partitions" -> "4", NoData -> idle.toString) {
      Scratch.scoped("graft_spec_inline_ckpt") { ckpt =>
        stream.addData(batches.head) // no empty first trigger to count
        val query = plan(stream.toDF()).writeStream
          .format("memory").queryName(sinkName).outputMode("append")
          .option("checkpointLocation", ckpt)
          .start()
        try {
          query.processAllAvailable()
          batches.tail.foreach { b => stream.addData(b); query.processAllAvailable() }
        } finally query.stop()
      }
    }
    sinkRows(spark.table(sinkName))
  }

  private def sinkRows(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("doc_id"), col("fp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  test("streaming dedup: duplicate handling across the watermark horizon") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = StreamDedup.dedupWithinWatermark(
      stream.toDF().toDF("doc_id", "ts", "text"), "ts", "text", "10 minutes")

    val ckpt = java.nio.file.Files.createTempDirectory("graft_sdedup_ckpt").toString
    spark.catalog.dropTempView("graft_sdedup_sink")
    val query = out.writeStream
      .format("memory").queryName("graft_sdedup_sink").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // batch 1: exact dup ("X") and a normalized dup ("  x ") in ONE batch,
      // plus a distinct doc
      stream.addData(Seq((1L, at(0), "x"), (2L, at(0), "  X "), (3L, at(5), "y")))
      query.processAllAvailable()
      // batch 2: "x" again within the horizon (t=7 < t0 + 10min) → dropped;
      // "z" at t=30 advances the watermark to t=20, past x's t0+10 expiry
      stream.addData(Seq((4L, at(7), "x"), (5L, at(30), "z")))
      query.processAllAvailable()
      // batch 3: "x" at t=25 — not late (watermark t=20), state evicted → emitted
      stream.addData(Seq((6L, at(25), "x")))
      query.processAllAvailable()
    } finally query.stop()

    val rows = spark.table("graft_sdedup_sink")
      .select(col("doc_id"), col("fp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val rowMap = rows.toMap
    val xFp = rowMap.getOrElse(1L, rowMap.getOrElse(2L, -1L)) // whichever of 1/2 survived
    // one survivor per (key, horizon): x from batch1, y, z, and x AGAIN after
    // its state expired
    assert(rows.length === 4, rows.mkString(","))
    assert(rows.count(_._2 == xFp) === 2, "x must re-emit after state eviction")
    assert(Set(4L).intersect(rows.map(_._1).toSet).isEmpty, "within-horizon dup must drop")
    assert(rows.map(_._1).toSet.contains(6L), "post-eviction reappearance must emit")
    // normalization: doc 1 ("x") and doc 2 ("  X ") carry the SAME fingerprint
    assert(rows.count(r => r._1 == 1L || r._1 == 2L) === 1)
  }

  test("dedup state and exactly-once output survive a query RESTART from the checkpoint (r8)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = StreamDedup.dedupWithinWatermark(
      stream.toDF().toDF("doc_id", "ts", "text"), "ts", "text", "10 minutes")
    // fault-tolerant FILE sink + checkpoint: the restart path a production
    // pipeline actually runs (the memory sink explicitly doesn't support
    // recovery). The parquet dir accumulates across both query lifetimes,
    // so it also proves exactly-once output through the restart.
    val outDir = graft.Scratch.ephemeral("graft_restart_out")
    val ckpt = graft.Scratch.ephemeral("graft_restart_ckpt")
    def start() = out.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    try {
      stream.addData(Seq((1L, at(0), "x"), (2L, at(1), "y")))
      q1.processAllAvailable()
    } finally q1.stop()
    // RESTART from the same checkpoint: the state store must come back with
    // x's fingerprint, so an in-horizon "x" replay STILL drops, while a new
    // key emits — state recovery is what the batch grade can never see
    val q2 = start()
    try {
      stream.addData(Seq((3L, at(3), "x"), (4L, at(4), "z")))
      q2.processAllAvailable()
    } finally q2.stop()

    val ids = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L, 4L),
      s"restart must restore dedup state (drop 3) and not duplicate run-1 output: $ids")
  }

  test("near-dup fingerprint: appended-token variants mostly collide; disjoint docs never") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001).limit(100)
    val orig = docs.select(col("doc_id"),
      StreamDedup.nearFingerprint("text").as("fp"))
    val varFp = docs.withColumn("text", concat_ws(" ", col("text"), lit("xtra")))
      .select(col("doc_id"), StreamDedup.nearFingerprint("text").as("vfp"))
    val joined = orig.join(varFp, "doc_id")
      .select(col("doc_id"), (col("fp") === col("vfp")).as("same")).collect()
    val collisions = joined.count(_.getBoolean(1))
    info(s"near-dup band collisions: $collisions / ${joined.length}")
    // P(collide) = (n/(n+1))^4 per doc; fixed seeds + fixed corpus make the
    // count a constant — pin the qualitative bound, not the exact value
    assert(collisions > joined.length / 2,
      s"near-identical variants should mostly share the band fingerprint: $collisions")
    // disjoint docs: unique-token texts never collide with each other
    val disjoint = Seq((1L, "aa bb cc dd"), (2L, "ee ff gg hh")).toDF("doc_id", "text")
      .select(StreamDedup.nearFingerprint("text").as("fp")).collect().map(_.getLong(0))
    assert(disjoint.distinct.length === 2)
  }

  test("streaming near-dup: variant within horizon drops, disjoint survives, eviction re-emits") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val docA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docC = "completely different tokens with nothing shared at all whatsoever"
    // a 1-token-appended variant collides on the band key w.p. (12/13)^4 —
    // per-token it depends on the fixed hash seeds, so pick the first
    // candidate that DOES collide (deterministic: fixed seeds, fixed list;
    // robust to a seed change instead of silently pinning a stale token)
    val candidates = Seq("nu", "xi", "omicron", "pi", "rho", "sigma", "tau")
    val fpOf = (texts: Seq[String]) => {
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      rows.toDF("doc_id", "text")
        .select(StreamDedup.nearFingerprint("text").as("fp"))
        .collect().map(_.getLong(0)).toSeq
    }
    val fps = fpOf(docA +: docC +: candidates.map(t => s"$docA $t"))
    val colliding = candidates.zipWithIndex.collectFirst {
      case (t, i) if fps(i + 2) == fps(0) => t
    }
    assert(colliding.nonEmpty, "no candidate variant collides — seeds changed drastically?")
    val docB = s"$docA ${colliding.get}" // J = 12/13 near-dup of A, band-colliding
    info(s"colliding variant token: ${colliding.get}")
    assert(fps(0) !== fps(1), "disjoint docs must not collide")

    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = graft.streaming.StreamDedup.nearDedupWithinWatermark(
      stream.toDF().toDF("doc_id", "ts", "text"), "ts", "text", "10 minutes")

    val ckpt = java.nio.file.Files.createTempDirectory("graft_sneardup_ckpt").toString
    spark.catalog.dropTempView("graft_sneardup_sink")
    val query = out.writeStream
      .format("memory").queryName("graft_sneardup_sink").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      stream.addData(Seq((1L, at(0), docA), (3L, at(1), docC)))
      query.processAllAvailable()
      // B near-dups A within the horizon → dropped; t=30 advances the
      // watermark to 20, evicting A's state (expiry t=10)
      stream.addData(Seq((2L, at(7), docB), (4L, at(30), "watermark pusher row")))
      query.processAllAvailable()
      // B reappears after eviction → re-emitted (sliding-horizon semantics)
      stream.addData(Seq((5L, at(25), docB)))
      query.processAllAvailable()
    } finally query.stop()

    val ids = spark.table("graft_sneardup_sink").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 3L, 4L, 5L),
      s"expected A, C, pusher, and post-eviction B; got $ids")
  }

  test("q70 runs end-to-end: near-dup replays mostly drop, count deterministic") {
    val out1 = SparkEntry.queries("q70_stream_neardup")(spark, sf0001).collect()
    // corpus is 1500 docs at sf0.001 + 50 near-dup variants; intra-corpus
    // band collisions and the mostly-dropped variants keep the count well
    // under the input, and fixed seeds keep it constant run-to-run
    assert(out1.length > 0 && out1.length < 1550)
    val variantsSurvived = out1.count(_.getLong(0) >= 1000000L)
    info(s"survivors: ${out1.length}; near-dup variants surviving: $variantsSurvived / 50")
    assert(variantsSurvived < 25, "most 1-token-appended variants must dedup against their source")
    val out2 = SparkEntry.queries("q70_stream_neardup")(spark, sf0001).collect()
    assert(out1.map(_.getLong(0)).sorted.toSeq === out2.map(_.getLong(0)).sorted.toSeq)
  }

  test("batch parity: the same operator on a batch frame dedups on the fingerprint") {
    val docs = Tables.documents(spark, sf0001)
      .withColumn("ts", lit(base).cast("timestamp"))
    val streamedOp = StreamDedup.dedupWithinWatermark(docs, "ts", "text", "10 minutes")
    val expected = docs.withColumn("fp", StreamDedup.fingerprint("text"))
      .dropDuplicates("fp")
    assert(streamedOp.count() === expected.count())
  }

  test("q70 runs two micro-batches at sf0.01 and returns the always-idle lifecycle's rows") {
    val (rows, batches) = progressEvents("graft_q70_sink") {
      sinkRows(SparkEntry.queries("q70_stream_neardup")(spark, sf001))
    }
    assert(batches === 2, "q70's two data batches need no idle batch")
    // q70's input, fed through the lifecycle with idle batches on
    import spark.implicits._
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1)
    val b1 = docs.map { case (id, t) => (id, atSec(id), t) }.toSeq
    val b2 = docs.take(50).map { case (id, t) =>
      (id + 1000000L, atSec(docs.length + id), t + " xtra") }.toSeq
    val (idleRows, idleBatches) = progressEvents("graft_spec_q70_idle") {
      inlineRun("graft_spec_q70_idle", Seq(b1, b2), idle = true) { in =>
        StreamDedup.nearDedupWithinWatermark(
          in.toDF("doc_id", "ts", "text"), "ts", "text", "60 minutes")
      }
    }
    assert(idleBatches === 4, "each data batch followed by its idle batch")
    assert(rows === idleRows)
  }

  test("idle-batch rule, either side of 2 × horizon: the rule's run equals the always-idle run") {
    val horizonMin = 10
    val bound = 2L * horizonMin * 60
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "exact" -> (in => StreamDedup.dedupWithinWatermark(
        in.toDF("doc_id", "ts", "text"), "ts", "text", s"$horizonMin minutes")),
      "near" -> (in => StreamDedup.nearDedupWithinWatermark(
        in.toDF("doc_id", "ts", "text"), "ts", "text", s"$horizonMin minutes")))
    for (span <- Seq(bound - 1, bound, bound + 1); (opName, op) <- ops) {
      // batch 1 spreads 8 disjoint documents over [0, span]; batch 2
      // repeats each just past batch 1's last event time (not late), plus
      // one fresh document. Over the bound, the idle batch after batch 1
      // evicts document 0, so its repeat is emitted only with idle batches.
      val text = (i: Long) => s"d$i a$i b$i c$i"
      val b1 = (0L until 8L).map(i => (i, atSec(i * span / 7), text(i)))
      val b2 = (0L until 8L).map(i => (100L + i, atSec(span + 1 + i), text(i))) :+
        ((200L, atSec(span + 10), "fresh"))
      val label = s"$opName, span $span s against ${bound} s"
      val (ruleRows, ruleBatches) = progressEvents("graft_spec_rule_sink") {
        sinkRows(memorySinkRun(spark, "spec_rule", Seq(b1, b2), Some(horizonMin))(op))
      }
      val idleRows = inlineRun("graft_spec_idle", Seq(b1, b2), idle = true)(op)
      assert(ruleRows === idleRows, label)
      if (span < bound) assert(ruleBatches === 2, label)
      else {
        assert(ruleBatches === 4, s"$label: idle batches must stay on")
        val skipped = inlineRun("graft_spec_skip", Seq(b1, b2), idle = false)(op)
        assert(skipped !== idleRows, s"$label: the stream must expose a skipped eviction")
        assert(idleRows.map(_._1).contains(100L), label)
      }
    }
  }

  test("memorySinkRun leaves no active query, prior confs and no checkpoint, also when a batch throws") {
    val keys = Seq("spark.sql.shuffle.partitions", NoData)
    def confs = keys.map(k => k -> spark.conf.getAll.get(k))
    def ckpts(key: String) =
      new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()
        .map(_.getName).filter(_.startsWith(s"graft_${key}_ckpt")).toSet
    val q47Rows = for (explicit <- Seq(Nil, Seq(keys(0) -> "3", NoData -> "false")))
      yield withSQLConf(explicit: _*) {
        val prior = confs
        val priorDirs = Seq("q47", "q59", "q70", "spec_throw").map(ckpts)
        val q47 = SparkEntry.queries("q47_stream_watermark")(spark, sf0001).collect().toSeq
        for (q <- Seq("q59_stream_dedup", "q70_stream_neardup"))
          assert(SparkEntry.queries(q)(spark, sf0001).count() > 0, q)
        assert(spark.streams.active.isEmpty)
        assert(confs === prior, s"after the queries, caller confs $explicit")
        val thrown = intercept[StreamingQueryException] {
          memorySinkRun(spark, "spec_throw", Seq(Seq((1L, at(0), "x"))), Some(10)) {
            _.withColumn("_1", when(col("_1") >= 0, raise_error(lit("boom")))
              .otherwise(col("_1")))
          }
        }
        assert(thrown.getMessage.contains("boom"))
        assert(spark.streams.active.isEmpty)
        assert(confs === prior, s"after a failed batch, caller confs $explicit")
        assert(Seq("q47", "q59", "q70", "spec_throw").map(ckpts) === priorDirs,
          "a checkpoint directory outlived its query")
        q47
      }
    // q47 keeps its idle batches even when the caller turned them off
    assert(q47Rows(0) === q47Rows(1))
  }
}
