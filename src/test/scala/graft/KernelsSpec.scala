package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.functions.{Kernels, StringExprs}
import graft.ops.{MinHash, SimilarityJoin}

/** The Scala Column helpers build their kernel expressions directly, so no
  * session function can stand in for a graft kernel behind a library
  * answer; [[Kernels.register]] is the one way to put the SQL names into a
  * session, and nothing in the library reaches into Spark reflectively.
  */
class KernelsSpec extends SparkSpec {

  private def shingles(s: SparkSession): Seq[Row] =
    SimilarityJoin.shingled(Tables.documents(s, sf0001), "text", 3)
      .select("doc_id", "shingles").orderBy("doc_id").collect().toSeq

  private def signatures(s: SparkSession): Seq[Row] =
    MinHash.signatures(Tables.documents(s, sf0001), "doc_id", "text", 16)
      .orderBy("id").collect().toSeq

  private def jaroWinkler(s: SparkSession): Seq[Row] =
    s.createDataFrame(Seq(("martha", "marhta"), ("dixon", "dicksonx"), ("ab", "ba")))
      .toDF("a", "b")
      .select(StringExprs.jaroWinkler(col("a"), col("b")).as("jw"))
      .collect().toSeq

  test("session functions shadowing graft names leave the library's answers unchanged") {
    val shadowed = spark.newSession()
    shadowed.udf.register("graft_shingles", (_: Seq[String], _: Int) => Seq("hijacked"))
    shadowed.udf.register("graft_minhash_sig", (_: Seq[String], _: Seq[Long]) => Seq(0L))
    shadowed.udf.register("graft_jaro_winkler", (_: String, _: String) => -1.0)
    val shadowNames = Set("graft_shingles", "graft_minhash_sig", "graft_jaro_winkler")
    val registry = shadowed.sessionState.functionRegistry
    Kernels.all.map(_._1).filterNot(id => shadowNames(id.funcName))
      .foreach(registry.dropFunction)
    assert(shadowed.sql("SELECT graft_shingles(array('a'), 1)").head().getSeq[String](0) ===
      Seq("hijacked"))

    assert(shingles(shadowed) === shingles(spark))
    assert(signatures(shadowed) === signatures(spark))
    assert(jaroWinkler(shadowed) === jaroWinkler(spark))

    // register puts back every kernel name, the shadowed ones included
    Kernels.register(shadowed)
    Kernels.all.foreach { case (id, info, _) =>
      assert(registry.lookupFunction(id).map(_.getClassName) === Some(info.getClassName))
    }
    val r = shadowed.sql("""
      SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot,
             graft_cosine(array(1.0d, 0.0d), array(2.0d, 0.0d)) AS cos,
             graft_jaccard(array('a', 'b'), array('b', 'c')) AS jac,
             graft_shingles(array('a', 'b', 'c', 'd'), 3) AS sh,
             graft_nfc('café') AS nfc,
             graft_jaro_winkler('same', 'same') AS jw,
             size(graft_hp_scores(array(1.0d, 0.0d), array(1.0d, 0.0d, 0.0d, 1.0d))) AS hps,
             size(graft_hp_bands(array(1.0d, 0.0d), array(1.0d, 0.0d, 0.0d, 1.0d), 1)) AS hpb,
             size(graft_minhash_sig(array('a', 'b'), array(3L, 7L, 11L, 13L))) AS mh,
             graft_simhash_sig(array('a', 'b')) IS NOT NULL AS sim,
             graft_compression_ratio('aaaaaaaaaaaaaaaaaaaaaaaa') < 1.5 AS zr
      """).head()
    assert(r.getDouble(0) === 11.0 && r.getDouble(1) === 1.0)
    assert(math.abs(r.getDouble(2) - 1.0 / 3.0) < 1e-12)
    assert(r.getSeq[String](3) === Seq("a b c", "b c d"))
    assert(r.getString(4) === "café" && r.getDouble(5) === 1.0)
    assert(r.getInt(6) === 2 && r.getInt(7) === 1 && r.getInt(8) === 2)
    assert(r.getBoolean(9) && r.getBoolean(10))
    assert(shadowed.sql(
      "SELECT size(graft_freq_items(c, 4)) FROM VALUES ('a'), ('a'), ('b') AS t(c)")
      .head().getInt(0) === 2)
  }

  test("src/main builds kernels without name lookups and crosses into Spark only through GraftBridge") {
    val base = Paths.get("src/main/scala")
    val stream = Files.walk(base)
    val sources = try stream.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => base.relativize(p).toString -> Files.readString(p)).toMap
    finally stream.close()
    def holding(s: String) = sources.collect { case (p, src) if src.contains(s) => p }.toSeq.sorted
    assert(holding("call_function(\"graft_") === Nil)
    assert(holding("Class.forName(\"org.apache.spark") === Nil)
    assert(holding("getMethod(\"internalCreateDataFrame\"") === Nil)
    val classic = sources.values
      .flatMap("""sql\.classic\.(\w+)""".r.findAllMatchIn(_).map(_.group(1))).toSet
    assert(classic === Set("GraftBridge"))
    assert(sources.keys.filter(_.startsWith("org/apache/spark/sql/classic/")).toSeq ===
      Seq("org/apache/spark/sql/classic/GraftBridge.scala"))
  }
}
