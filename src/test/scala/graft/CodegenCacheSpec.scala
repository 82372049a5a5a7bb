package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.LongType
import graft.plans.CodegenCache

/** Spark compiles generated classes into one JVM-wide cache, sized once
  * from `spark.sql.codegen.cache.maxEntries` (default 100). A graft
  * session sizes it to [[CodegenCache.MaxEntries]], so a warm pass over
  * graft's plans compiles nothing. With 100 entries the second pass below
  * recompiled 53 byte-identical classes, and the second round of 300
  * projections all 300.
  */
class CodegenCacheSpec extends SparkSpec {

  private def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def compilesOf(body: => Unit): Long = {
    val c0 = compiled
    body
    compiled - c0
  }

  test("a second interleaved pass over ten suite queries compiles no class") {
    spark // the fixture session exists before the first count
    // perfbench's suite (every 15th key in name order), with the streaming
    // q70 swapped for the next key: a streaming query runs on a clone of
    // the session, and its tasks load generated classes through a class
    // loader of that clone's own, so they miss the cache on every run
    // whatever its size
    val queries = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
      .collect { case (k, i) if i % 15 == 0 => k }
      .map(k => if (k == "q70_stream_neardup") "q71_dedup_clusters" else k)
    assert(queries.size === 10 && queries.forall(SparkEntry.queries.contains))
    def pass(seed: Int) = compilesOf(
      new scala.util.Random(seed).shuffle(queries)
        .foreach(k => SparkEntry.queries(k)(spark, sf001).count()))
    val first = pass(1)
    val second = pass(2)
    assert(second === 0L, s"the second pass recompiled (the first compiled $first)")
  }

  test("the cache holds more than Spark's default 100 classes") {
    // 300 projections with distinct inlined constants: 300 distinct classes
    // no other code in this JVM compiled, each used twice in one order
    val base = scala.util.Random.nextInt(1 << 30).toLong << 20
    def round() = compilesOf((0 until 300).foreach { i =>
      GenerateUnsafeProjection.generate(
        Seq(Add(BoundReference(0, LongType, nullable = false), Literal(base + i))))
      ()
    })
    assert(round() === 300L)
    assert(round() === 0L, "the second round recompiled")
  }

  test("the size decision: graft's size unless the application set the key") {
    val key = "spark.sql.codegen.cache.maxEntries"
    assert(CodegenCache.entries(new SparkConf(false)) === Some(CodegenCache.MaxEntries))
    assert(CodegenCache.entries(new SparkConf(false).set(key, "64")) === None)
    assert(CodegenCache.entries(new SparkConf(false).set(key, "5000")) === None)
    assert(CodegenCache.MaxEntries > 1215, "below the 150 queries' distinct classes")
  }
}
