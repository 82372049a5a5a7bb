package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Every graft main builds its session from [[GraftSession]], so the
  * graded config lives in one place.
  */
class GraftSessionSpec extends SparkSpec {

  test("SparkSession.builder appears in src/main only inside GraftSession.scala") {
    val base = Paths.get("src/main/scala")
    val stream = Files.walk(base)
    val users = try stream.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        Files.readString(p).contains("SparkSession.builder"))
      .map(p => base.relativize(p).toString).toSeq.sorted
    finally stream.close()
    assert(users === Seq("graft/GraftSession.scala"))
  }

  test("the factory sets local[cpus], shuffle partitions = cpus, UTC, nanosAsLong and GraftExtensions") {
    // the spec fixture is built by GraftSession.builder(cpus = 4)
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.extensions") === "graft.plans.GraftExtensions")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
  }
}
