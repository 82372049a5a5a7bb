package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Derives the suite's expected set on the current tree: each query's row
  * count and content hash, computed twice (a hash that differs between the
  * two runs is recorded as unstable, `-`), plus each output as parquet and
  * the oracle SQL, for the DuckDB cross-check in `tools/crosscheck.py`.
  */
object Derive {
  private val modules = Seq("relational" -> "RelationalQueries", "text" -> "TextQueries",
    "similarity" -> "SimilarityQueries", "streaming" -> "StreamingQueries",
    "pipeline" -> "PipelineQueries")

  /** query name -> the `graft.queries` module that declares it */
  private def moduleOf: Map[String, String] = modules.flatMap { case (m, obj) =>
    try {
      val o = Class.forName(s"graft.queries.$obj$$").getField("MODULE$").get(null)
      o.getClass.getMethod("all").invoke(o).asInstanceOf[Seq[Product]]
        .map(q => q.productElement(0).toString -> m)
    } catch { case scala.util.control.NonFatal(_) => Nil }
  }.toMap

  def apply(cpus: Int, benchDir: String, workDir: String, outDir: String): Unit = {
    val dataDir = s"$benchDir/data/sf0.01"
    val spark = Session.graded(cpus, workDir)
    val suite = new Suite(dataDir, Map.empty, 0L, None)
    suite.setup(spark)
    val mod = moduleOf
    Files.createDirectories(Paths.get(outDir))
    val rows = suite.names.map { n =>
      val fn = graft.SparkEntry.queries(n)
      val t0 = System.nanoTime()
      val (r1, h1) = Digest.run(Digest.of(fn(spark, dataDir)))
      val t1 = System.nanoTime()
      val (r2, h2) = Digest.run(Digest.of(fn(spark, dataDir)))
      val t2 = System.nanoTime()
      require(r1 == r2, s"$n: row count differs between runs ($r1, $r2)")
      fn(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
      System.err.println(f"[derive] $n rows=$r1 stable=${h1 == h2} " +
        f"first=${(t1 - t0) / 1e6}%.0f ms second=${(t2 - t1) / 1e6}%.0f ms")
      s"$n\t${mod.getOrElse(n, "unknown")}\t$r1\t${if (h1 == h2) h1 else "-"}"
    }
    Files.write(Paths.get(s"$outDir/suite.tsv"), rows.asJava)
    val oracle = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> Json.str(v) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.obj(oracle))
    spark.stop()
  }
}
