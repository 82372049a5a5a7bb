package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (dev-loop only; the driver always passes 2): comma-
    // separated query-name prefixes — dump just those queries. oracle_sql
    // .json is still written in full so parity.py finds every oracle.
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(',').toSeq) else None
    val spark = GraftSession.builder().getOrCreate()
    new java.io.File(outDir).mkdirs()
    // stale-dump guard (dev-loop): a filtered dump must not leave OTHER
    // queries' previous parquet results in outDir, where parity.py would
    // grade them as current — delete every subdirectory the filter
    // excludes before dumping (filtered queries are overwritten below).
    only.foreach { prefixes =>
      def del(f: java.io.File): Unit = {
        val cs = f.listFiles; if (cs != null) cs.foreach(del); f.delete(); ()
      }
      Option(new java.io.File(outDir).listFiles).getOrElse(Array.empty)
        .foreach { f =>
          if (f.isDirectory && !prefixes.exists(f.getName.startsWith)) del(f)
        }
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
