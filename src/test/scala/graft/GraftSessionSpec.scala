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

  test("query builds keep the functions GraftExtensions injected") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val session = spark.newSession()
    val registry = session.sessionState.functionRegistry
    val ids = Seq("graft_jaro_winkler", "graft_nfc").map(FunctionIdentifier(_))
    def builders = ids.map(id => registry.lookupFunctionBuilder(id).get)
    val injected = builders
    assert(registry.lookupFunction(ids.head).get.getClassName ===
      classOf[graft.functions.JaroWinkler].getName)
    def q147(s: org.apache.spark.sql.SparkSession) =
      SparkEntry.queries("q147_sorted_neighborhood")(s, sf0001).count()
    // q147 builds its string kernels directly and leaves the registry alone
    for (_ <- 1 to 2) SparkEntry.queries("q147_sorted_neighborhood")(session, sf0001)
    builders.zip(injected).foreach { case (now, before) => assert(now eq before) }
    // a session that lacks a function still runs the query unchanged,
    // and the build does not put the function back ...
    registry.dropFunction(ids.head)
    assert(q147(session) === q147(spark))
    assert(!registry.functionExists(ids.head))
    // ... and gets the function back from register
    graft.functions.Kernels.register(session)
    assert(registry.functionExists(ids.head))
    assert(q147(session) === q147(spark))
  }
}
