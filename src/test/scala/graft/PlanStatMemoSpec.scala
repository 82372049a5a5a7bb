package graft

import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import graft.ops.PlanStatMemo

/** The planning memo's key carries a 32-bit `semanticHash`; a hit must
  * still belong to the probed plan.
  */
class PlanStatMemoSpec extends SparkSpec {

  test("a semanticHash collision does not hand one plan's statistic to another") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memocollide").toFile
    try {
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(dir.toString)
      val base = spark.read.parquet(dir.toString)
      // birthday search for two strings s whose `text = s` filters share a
      // semanticHash: ~82k plans expected, each a cheap tree hash over the
      // cached canonical scan. (Varying a long literal cannot collide: the
      // plan hash is then a bijection of the literal's own 32-bit hash.)
      val scan = base.queryExecution.analyzed
      val text = scan.output.find(_.name == "text").get
      val seen = scala.collection.mutable.HashMap[Int, String]()
      var pair: Option[(String, String)] = None
      var k = 0
      while (pair.isEmpty && k < 2000000) {
        val s = s"t$k"
        pair = seen.put(Filter(EqualTo(text, Literal(s)), scan).semanticHash(), s).map((_, s))
        k += 1
      }
      assert(pair.nonEmpty, "no semanticHash collision found")
      val (ka, kb) = pair.get
      val a = base.filter(col("text") === lit(ka))
      val b = base.filter(col("text") === lit(kb))
      // a true collision: one memo key, two plans with different results
      assert(a.queryExecution.analyzed.semanticHash() === b.queryExecution.analyzed.semanticHash())
      assert(!a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed))
      val tag = "collision"
      assert(PlanStatMemo.key(a, tag).nonEmpty)
      assert(PlanStatMemo.key(a, tag) === PlanStatMemo.key(b, tag))
      assert(PlanStatMemo.cached(a, tag)(s"stat of $ka") === s"stat of $ka")
      assert(PlanStatMemo.cached(b, tag)(s"stat of $kb") === s"stat of $kb")
      // the same plan read again still hits
      assert(PlanStatMemo.cached(base.filter(col("text") === lit(kb)), tag)("recomputed") ===
        s"stat of $kb")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      ()
    }
  }

  test("both planning memos hit on a table served under a non-file: scheme") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${TestSchemeFileSystem.Scheme}.impl", classOf[TestSchemeFileSystem].getName)
    val dir = java.nio.file.Files.createTempDirectory("memoscheme").toFile
    try {
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val sfDir = s"${TestSchemeFileSystem.Scheme}://${dir.getAbsolutePath}"
      // the schema memo stores one entry on the first load and hits after
      val before = Tables.schemaMemoSize
      val docs = Tables.load(spark, sfDir, "documents")
      val stored = Tables.schemaMemoSize
      assert(stored === (if (before >= Tables.SchemaMemoBound) 1 else before + 1))
      assert(Tables.load(spark, sfDir, "documents").count() === 2L)
      assert(Tables.schemaMemoSize === stored)
      // the statistic memo computes once
      assert(docs.inputFiles.forall(_.startsWith(s"${TestSchemeFileSystem.Scheme}:")))
      assert(PlanStatMemo.key(docs, "scheme").nonEmpty)
      var computed = 0
      (1 to 2).foreach(_ => PlanStatMemo.cached(docs, "scheme") { computed += 1; computed })
      assert(computed === 1)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      ()
    }
  }

  test("past Bound entries the memo starts over, and the newest entry still hits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memobound").toFile
    try {
      Seq((1L, "a")).toDF("doc_id", "text").write.mode("overwrite").parquet(dir.toString)
      val df = spark.read.parquet(dir.toString)
      val last = PlanStatMemo.Bound
      (0 to last).foreach(i => assert(PlanStatMemo.cached(df, s"bound:$i")(i) === i))
      assert(PlanStatMemo.size <= PlanStatMemo.Bound)
      assert(PlanStatMemo.cached(df, s"bound:$last")(-1) === last)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      ()
    }
  }

  test("boundedBy: exactly limit rows is bounded, limit + 1 is not") {
    // the probe counts at most limit + 1 rows; an Int limit leaves no
    // room to wrap that count the way a Long narrowed to Int did
    for (limit <- Seq(0, 1, 5, 8192)) {
      assert(PlanStatMemo.boundedBy(spark.range(limit).toDF(), limit), s"$limit rows, limit $limit")
      assert(!PlanStatMemo.boundedBy(spark.range(limit + 1L).toDF(), limit),
        s"${limit + 1} rows, limit $limit")
    }
    intercept[IllegalArgumentException](PlanStatMemo.boundedBy(spark.range(1).toDF(), Int.MaxValue))
    intercept[IllegalArgumentException](PlanStatMemo.boundedBy(spark.range(1).toDF(), -1))
  }
}

/** The local filesystem served under its own URI scheme, standing in for a
  * remote store (`s3a:`, `hdfs:`) that `java.nio` cannot stat.
  */
class TestSchemeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${TestSchemeFileSystem.Scheme}:///")
  override def getScheme: String = TestSchemeFileSystem.Scheme
}

object TestSchemeFileSystem {
  val Scheme = "graftlocal"
}
