package graft
import org.apache.spark.sql.functions._

/** Micro-benchmark: exact inverted-index Jaccard join vs the PPJoin
  * prefix-filtered variant, at sf0.1 and at a synthetic ×N corpus (shifted
  * doc ids, one perturbation token per copy so copies are near- but not
  * exact duplicates). Records the dispatch evidence for q36's Scaladoc.
  *
  * Usage: runMain graft.PrefixBench [multiplier]
  */
object PrefixBench {
  def main(args: Array[String]): Unit = {
    val mult = if (args.nonEmpty) args(0).toInt else 1
    val spark = GraftSession.builder().getOrCreate()
    val base = Tables.documents(spark, "/root/testdata/sf0.1")
    val docs = (0 until mult).map { i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        .withColumn("text",
          if (i == 0) col("text") else concat(col("text"), lit(s" copytok$i")))
    }.reduce(_ unionByName _)
    println(s"corpus: ${docs.count()} docs (multiplier $mult)")
    for (variant <- Seq("exact", "prefix"); rep <- 1 to 2) {
      val t0 = System.nanoTime()
      val n = variant match {
        case "exact" => ops.SimilarityJoin.jaccardSelf(docs, "doc_id", "text", Seq("lang", "source"), 0.8).count()
        case "prefix" => ops.SimilarityJoin.jaccardSelfPrefix(docs, "doc_id", "text", Seq("lang", "source"), 0.8).count()
      }
      println(f"$variant rep$rep: ${(System.nanoTime() - t0) / 1e9}%.2f s, $n pairs")
    }
    spark.stop()
  }
}
