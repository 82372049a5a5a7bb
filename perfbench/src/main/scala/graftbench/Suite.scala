package graftbench

import org.apache.spark.sql.SparkSession

/** One row of the suite's expected set: the query's module, and its output
  * row count and content hash (no hash when the output is not stable).
  */
final case class Expected(module: String, rows: Long, hash: Option[String])

object Expected {
  def load(path: String): Map[String, Expected] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val Array(name, module, rows, hash) = l.split("\t")
      name -> Expected(module, rows.toLong, Some(hash).filter(_ != "-"))
    }.toMap
    finally src.close()
  }
}

/** `suite`: graft's declared queries (`SparkEntry.queries`) over a fixed
  * corpus in one graded session; each pass runs them in a seeded order and
  * times each query's build plus its digest action.
  */
final class Suite(dataDir: String, expected: Map[String, Expected], seed: Long,
                  only: Option[Set[String]]) extends Workload {
  private val queries = graft.SparkEntry.queries
  val names: IndexedSeq[String] = queries.keys
    .filter(n => only.forall(_.contains(n))).toIndexedSeq.sorted

  def setup(spark: SparkSession): Unit = {
    // first touch of every table, through graft's loader
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
      .foreach(t => graft.Tables.load(spark, dataDir, t).count())
    graft.Tables.events(spark, dataDir).count()
  }

  def unit(spark: SparkSession, probe: Probe, index: Int): Seq[OpResult] = {
    val order = new scala.util.Random(seed * 7919L + index).shuffle(names)
    order.map { n =>
      val exp = expected.get(n)
      val module = exp.map(_.module).getOrElse("unknown")
      Workload.op(probe, s"queries.$module")(queries(n)(spark, dataDir))(
        Digest.of, Digest.run)(Workload.digestCheck(exp.map(e => (e.rows, e.hash))))
        .copy(family = s"queries.$module:$n")
    }
  }

  def inputs: Seq[(String, String)] =
    Seq("queries" -> names.size.toString, "corpus" -> Json.str(dataDir))
}
