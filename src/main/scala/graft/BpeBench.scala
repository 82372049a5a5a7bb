package graft

/** Ad-hoc BPE training-scale probe: `runMain graft.BpeBench <nMerges> <batchSize>`
  * under SPARK_GRAFT_SF_DIR/SPARK_GRAFT_CPUS — measures [[ops.Bpe.learnMerges]]
  * at production-ish merge counts (the r8 verdict's 50k-vocab question).
  * BASELINE.md records the sf0.1 numbers.
  */
object BpeBench {
  def main(args: Array[String]): Unit = {
    val nMerges = args.headOption.map(_.toInt).getOrElse(1000)
    val batch = args.lift(1).map(_.toInt).getOrElse(64)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.range(1000000).selectExpr("sum(id)").collect()
    // "stress": the sf0.1 documents vocabulary exhausts after ~90 merges
    // (every word fully fused), which cannot exercise production merge
    // counts — so re-chunk the SAME corpus text into 12-char pseudo-words
    // (~300k distinct), whose pair space sustains 1000+ merges. Same data
    // volume, same operator; only the vocabulary is made merge-rich.
    val base = Tables.documents(spark, sfDir)
    val docs =
      if (args.lift(2).contains("stress"))
        base.select(org.apache.spark.sql.functions.trim(
          org.apache.spark.sql.functions.regexp_replace(
            org.apache.spark.sql.functions.regexp_replace(
              org.apache.spark.sql.functions.lower(
                org.apache.spark.sql.functions.col("text")),
              "[^a-z]", ""),
            "(.{12})", "$1 ")).as("text"))
      else base
    docs.count() // warm the scan
    val t0 = System.nanoTime()
    val learned = ops.Bpe.learnMerges(docs, "text", nMerges, batch).count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[bpebench] merges=$learned%d of $nMerges%d requested, " +
      f"batchSize=$batch%d: $secs%.1f s (${secs / math.max(learned, 1)}%.4f s/merge)")
    spark.stop()
  }
}
