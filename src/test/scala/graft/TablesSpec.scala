package graft

import org.apache.spark.sql.types._

/** Testdata-layout guard (the round-10 lesson): the driver regenerates
  * /root/testdata between rounds, and a silent layout drift (events.ts
  * flipped parquet TIMESTAMP(NANOS) → TIMESTAMP(MICROS)) surfaced as 18
  * runtime failures instead of one failing assertion. This spec re-probes
  * every table the queries read, so the NEXT drift fails here first with
  * a message naming the table and column.
  */
class TablesSpec extends SparkSpec {

  test("all 10 tables load and are non-empty at sf0.001") {
    Tables.names.foreach { t =>
      val n =
        if (t == "events") Tables.events(spark, sf0001).count()
        else Tables.load(spark, sf0001, t).count()
      assert(n > 0, s"table $t is empty")
    }
  }

  test("events.ts surfaces as TimestampType regardless of parquet layout") {
    val ev = Tables.events(spark, sf0001)
    assert(ev.schema("ts").dataType === TimestampType,
      s"events.ts loader must normalize to TimestampType, got ${ev.schema("ts").dataType}")
    // values are sane epoch timestamps (not 1970-adjacent nanos misreads)
    val minYear = ev.selectExpr("min(year(ts))").head().getInt(0)
    assert(minYear >= 1990 && minYear <= 2100,
      s"events.ts min year $minYear — dtype branch likely misinterpreting raw values")
  }

  test("key columns the queries depend on exist with expected types") {
    val expect: Map[String, Map[String, DataType]] = Map(
      "lineitem" -> Map("l_orderkey" -> LongType, "l_quantity" -> DoubleType,
        "l_returnflag" -> StringType),
      "orders" -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType),
      "documents" -> Map("doc_id" -> LongType, "text" -> StringType),
      "embeddings" -> Map("vec_id" -> LongType),
      "events" -> Map("event_id" -> LongType, "user_id" -> LongType))
    expect.foreach { case (t, cols) =>
      val schema =
        if (t == "events") Tables.events(spark, sf0001).schema
        else Tables.load(spark, sf0001, t).schema
      cols.foreach { case (c, dt) =>
        assert(schema.fieldNames.contains(c), s"$t missing column $c")
        assert(schema(c).dataType === dt,
          s"$t.$c drifted: expected $dt, observed ${schema(c).dataType}")
      }
    }
  }

  test("schema memo never hands one session's parquet inference to a session with other parquet confs") {
    // events.ts is TIMESTAMP(isAdjustedToUTC = false) with no Spark schema
    // in the footer: it surfaces as TIMESTAMP_NTZ under inferTimestampNTZ
    // (the default) and as TIMESTAMP without it. A copy under a fresh path
    // makes this session's inference the first one memoized for it.
    val dir = java.nio.file.Files.createTempDirectory("schemamemo").toFile
    try {
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf0001/events.parquet"),
        dir.toPath.resolve("events.parquet"))
      assert(Tables.load(spark, dir.toString, "events").schema("ts").dataType === TimestampNTZType)
      val other = spark.newSession()
      other.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      assert(other.read.parquet(s"$dir/events.parquet").schema("ts").dataType === TimestampType)
      assert(Tables.load(other, dir.toString, "events").schema("ts").dataType === TimestampType,
        "the memo returned the NTZ schema another session inferred")
      // the first session still gets its own inference back
      assert(Tables.load(spark, dir.toString, "events").schema("ts").dataType === TimestampNTZType)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      ()
    }
  }

  test("graft-table schema memos give a session with other parquet confs what it would infer itself") {
    // GraftFileIndex and AtomicCommit memoize a graft table's schema per
    // (root, generation / manifest), without the session's parquet confs.
    // That is sound because graft writes every file through Spark, which
    // records the schema in the footer, and a footer schema overrides
    // inference confs: TIMESTAMP_NTZ stays NTZ under inferTimestampNTZ=false.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ntz").toString
    try {
      graft.sources.AtomicCommit.commitReplacePartitions(spark, root,
        Seq((1L, "a"), (2L, "b")).toDF("k", "p")
          .selectExpr("k", "p", "timestamp_ntz'2024-01-01 00:00:00' AS ts"), "p")
      def viaGraft(s: org.apache.spark.sql.SparkSession) =
        s.read.format("graft").option("path", root).load().schema("ts").dataType
      def viaCommit(s: org.apache.spark.sql.SparkSession) =
        graft.sources.AtomicCommit.read(s, root).schema("ts").dataType
      assert(viaGraft(spark) === TimestampNTZType)
      assert(viaCommit(spark) === TimestampNTZType)
      val other = spark.newSession()
      other.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      val file = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .filter(_.toString.endsWith(".parquet")).findFirst().get
      val inferred = other.read.parquet(file.toString).schema("ts").dataType
      assert(viaGraft(other) === inferred)
      assert(viaCommit(other) === inferred)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      ()
    }
  }

  test("the schema memo starts over past SchemaMemoBound entries") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("schemabound")
    try {
      Seq(1L).toDF("k").coalesce(1).write.parquet(dir.resolve("src").toString)
      val part = java.nio.file.Files.list(dir.resolve("src"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get
      // one fresh table path per key, as every dedup batch directory is
      val n = Tables.SchemaMemoBound + 1
      (0 until n).foreach { i =>
        val t = java.nio.file.Files.createDirectories(dir.resolve(s"sf$i/t.parquet"))
        java.nio.file.Files.copy(part, t.resolve(part.getFileName))
        assert(Tables.load(spark, s"$dir/sf$i", "t").columns.toSeq === Seq("k"))
      }
      assert(Tables.schemaMemoSize <= Tables.SchemaMemoBound)
      assert(Tables.schemaMemoSize > 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      ()
    }
  }
}
