package graft

import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types._
import graft.streaming.IdempotentSink

class IdempotentSinkSpec extends SparkSpec {

  test("a replayed batch replaces its own partition; plain append would duplicate") {
    import spark.implicits._
    val out = Scratch.ephemeral("graft_sink_spec")
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b1 = Seq((3L, "c")).toDF("id", "v")
    IdempotentSink.writeBatch(out)(b0, 0L)
    IdempotentSink.writeBatch(out)(b1, 1L)
    // the at-least-once failure contract: batch 0 arrives AGAIN, same id
    IdempotentSink.writeBatch(out)(b0, 0L)
    val rows = IdempotentSink.read(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(rows.toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "replay must replace batch 0's partition, not append to it")
    // dynamic overwrite: replaying batch 0 must not touch batch 1
    // (asserted by (3,c) surviving above)

    // the failure mode the sink exists to prevent, demonstrated
    val naive = Scratch.ephemeral("graft_sink_naive")
    b0.write.mode("append").parquet(naive)
    b0.write.mode("append").parquet(naive)
    assert(spark.read.parquet(naive).count() === 4L,
      "control: an append sink duplicates the replayed batch")
  }

  test("q129 leaves no sink or checkpoint directory and returns the per-lang totals in order") {
    def dirs = new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()
      .map(_.getName).filter(_.startsWith("graft_q129_")).toSet
    val before = dirs
    val runs = Seq.fill(2)(SparkEntry.queries("q129_stream_sink")(spark, sf0001))
    assert(dirs === before, "a q129 execution left a directory behind")
    val expected = Tables.documents(spark, sf0001)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy("lang").collect().toSeq
    for (df <- runs) {
      assert(df.schema === StructType(Seq(StructField("lang", StringType),
        StructField("n_docs", LongType, nullable = false), StructField("n_chars", LongType))))
      assert(df.collect().toSeq === expected)
    }
  }
}
