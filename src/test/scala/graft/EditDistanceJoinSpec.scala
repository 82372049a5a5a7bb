package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.ops.EditDistanceJoin

class EditDistanceJoinSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def pairs(df: DataFrame): Set[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(r.length - 1))).toSet

  test("Ed-Join prefix path ≡ brute force on part at k ∈ {1, 2}") {
    val p = Tables.part(spark, sf0001)
    for (k <- Seq(1, 2)) {
      val pruned = pairs(EditDistanceJoin.selfJoin(p, "p_partkey", "p_name", Seq("p_brand"), k))
      val brute = pairs(EditDistanceJoin.selfJoinBrute(p, "p_partkey", "p_name", Seq("p_brand"), k))
      assert(pruned === brute, s"k=$k")
      assert(brute.nonEmpty, s"k=$k ground truth should be non-trivial")
    }
  }

  test("short/repetitive strings route through the brute bucket — no lost pairs") {
    import spark.implicits._
    // every adversarial case for the q-gram argument: zero shared grams at
    // ed ≤ k ("ab"/"cd"), degenerate distinct-gram sets ("aaaa"), strings
    // shorter than q (empty, "a"), plus one normal long pair and a block
    // that must never match
    val corpus = Seq(
      (1L, "ab", "x"), (2L, "cd", "x"),
      (3L, "aaaa", "x"), (4L, "aaab", "x"),
      (5L, "", "x"), (6L, "a", "x"),
      (7L, "abcdefghij", "x"), (8L, "abxdefghij", "x"),
      (9L, "cd", "y")
    ).toDF("id", "s", "blk")
    for (k <- Seq(1, 2)) {
      val pruned = pairs(EditDistanceJoin.selfJoin(corpus, "id", "s", Seq("blk"), k))
      val brute = pairs(EditDistanceJoin.selfJoinBrute(corpus, "id", "s", Seq("blk"), k))
      assert(pruned === brute, s"k=$k")
    }
    // the k=2 set must contain the pairs that defeat a naive prefix filter
    val at2 = pairs(EditDistanceJoin.selfJoin(corpus, "id", "s", Seq("blk"), 2))
    assert(at2.contains((1L, 2L, 2)))   // "ab"/"cd": ed=2, zero shared grams
    assert(at2.contains((3L, 4L, 1)))   // "aaaa"/"aaab": one distinct gram each
    assert(at2.contains((7L, 8L, 1)))   // long pair via the prefix index
    assert(!at2.exists(p => p._1 == 9L || p._2 == 9L)) // cross-block never pairs
  }

  test("forced shuffle-path frequency join produces identical pairs") {
    val p = Tables.part(spark, sf0001)
    val (bc, sh) = bothJoinPaths(
      EditDistanceJoin.selfJoin(p, "p_partkey", "p_name", Seq("p_brand"), 2))(pairs)
    assert(sh === bc)
  }

  test("distinct-first path ≡ brute force on both tiers, incl. duplicate strings") {
    import spark.implicits._
    val p = Tables.part(spark, sf0001)
    for (k <- Seq(1, 2)) {
      val brute = pairs(EditDistanceJoin.selfJoinBrute(p, "p_partkey", "p_name", Seq("p_brand"), k))
      val small = pairs(EditDistanceJoin.selfJoinDistinctTier(p, "p_partkey", "p_name",
        Seq("p_brand"), k, q = 2, smallDomain = true))
      val big = pairs(EditDistanceJoin.selfJoinDistinctTier(p, "p_partkey", "p_name",
        Seq("p_brand"), k, q = 2, smallDomain = false))
      assert(small === brute, s"k=$k broadcast tier")
      assert(big === brute, s"k=$k gram tier")
    }
    // duplicate strings inside one block must pair at dist 0, exactly once
    val dup = Seq((1L, "same", "x"), (2L, "same", "x"), (3L, "samey", "x"),
      (4L, "same", "y")).toDF("id", "s", "blk")
    val got = pairs(EditDistanceJoin.selfJoinDistinctTier(dup, "id", "s", Seq("blk"), 1,
      q = 2, smallDomain = true))
    assert(got === pairs(EditDistanceJoin.selfJoinBrute(dup, "id", "s", Seq("blk"), 1)))
    assert(got.contains((1L, 2L, 0)) && got.contains((1L, 3L, 1)))
    assert(!got.exists(t => t._1 == 4L || t._2 == 4L))
  }

  test("q38 wiring: sf0.001 output matches the brute form row-for-row") {
    val q38 = SparkEntry.queries("q38_edit_distance_join")(spark, sf0001)
    assert(q38.schema.fieldNames.toSeq === Seq("a_key", "b_key", "p_brand", "dist"))
    val brute = EditDistanceJoin.selfJoinBrute(
      Tables.part(spark, sf0001), "p_partkey", "p_name", Seq("p_brand"), 2)
    assert(pairs(q38) === pairs(brute))
  }
}
