package graft

import org.apache.spark.sql.functions._

/** Scale probe for [[graft.ops.SortedNeighborhood]] (BASELINE.md records
  * the numbers): N synthetic rows with hash-random sort keys, w = 2, pair
  * count must be exactly (N−1)+(N−2) at EVERY partition count — the
  * boundary-overlap correctness claim — while wall-clock tracks the
  * requested parallelism, the claim that distinguishes the operator from
  * the single-partition (or 26-way prefix) window forms.
  *
  * Usage: runMain graft.SnBench [N] (default 1,000,000).
  */
object SnBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = GraftSession.builder().getOrCreate()
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warm-up
    val df = spark.range(n)
      .select(col("id").as("key"), md5(col("id").cast("string")).as("name"))
      .localCheckpoint(true) // time the operator, not the generator
    val expected = (n - 1) + (n - 2)
    for (parts <- Seq(1, 8, 32, 64); rep <- 1 to 2) {
      val t0 = System.nanoTime()
      val got = graft.ops.SortedNeighborhood
        .pairs(df, Seq("name", "key"), w = 2, parts = parts).count()
      val dt = (System.nanoTime() - t0) / 1e9
      require(got == expected, s"parts=$parts: $got pairs, expected $expected")
      println(f"[snbench] n=$n parts=$parts%-3d rep$rep: $dt%6.2f s ($got pairs, correct)")
    }
    spark.stop()
  }
}
