package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
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
}
