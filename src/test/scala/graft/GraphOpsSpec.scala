package graft

import org.apache.spark.sql.functions._
import graft.ops.GraphOps

class GraphOpsSpec extends SparkSpec {

  /** The loop-only behaviors (round bounds, the round cap, the
    * alternating-star hand-off) need the propagation loop: a broadcast
    * threshold of −1 keeps connectedComponents off its driver path.
    */
  private def forcingLoop[A](body: => A): A =
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  /** Did `out` come from the alternating-star hand-off? Its labels are a
    * join of the node universe with the final stars; the loop's are a
    * projection of its last label checkpoint, joinless.
    */
  private def handedOff(out: org.apache.spark.sql.DataFrame): Boolean =
    out.queryExecution.analyzed.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.Join])

  test("connected components: handcrafted graph resolves to per-component min labels") {
    import spark.implicits._
    // components: {1,2,3,4} (a triangle plus a pendant), {10,11}, and a
    // 2-hop chain {20,21,22} where (20,22) is never an edge
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (10L, 11L), (20L, 21L), (21L, 22L)).toDF("a_id", "b_id")
    val out = GraphOps.connectedComponents(edges, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("long chain converges on the propagation loop in log-diameter rounds") {
    forcingLoop {
      import spark.implicits._
      // a 30-node path (diameter 29): pointer jumping doubles label reach
      // per round, so 6 rounds (5 changing, 1 detecting changed = 0) fit
      // the 20-round cap with no hand-off
      val chain = (0L until 29L).map(i => (i, i + 1)).toDF("a_id", "b_id")
      val out = GraphOps.connectedComponents(chain, "a_id", "b_id")
      assert(!handedOff(out), "the loop handed a 30-node path off")
      val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(labels.length === 30 && labels.forall(_._2 === 0L))
    }
  }

  test("r21: pointer jumping converges a 300-node path in O(log d) rounds") {
    forcingLoop {
      import spark.implicits._
      // diameter 299: plain min-label propagation needs ~299 rounds; the
      // pointer-jumped loop doubles label reach per round (2^9 = 512 ≥ 299),
      // so 12 rounds — far under the default 20-round cap — suffice
      // including the changed=0 detection round. Past a 12-round cap the
      // loop would hand off to alternating-star, which the plan shows.
      val path = (0L until 299L).map(i => (i, i + 1)).toDF("a_id", "b_id")
      val out = GraphOps.connectedComponentsCapped(path, "a_id", "b_id", maxIter = 12)
      assert(!handedOff(out), "the loop needed more than 12 rounds")
      val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(labels.length === 300 && labels.forall(_._2 === 0L))
    }
  }

  test("over-cap diameter dispatches to alternating-star and still labels correctly (r8)") {
    forcingLoop {
      import spark.implicits._
      // diameter 29 needs 6 rounds, past a 5-round propagation cap: the
      // loop hands the materialized edges to large-star/small-star instead
      // of failing (r21 pointer jumping: label reach after k rounds is
      // 2^k, so round 5 (reach 16→32) still CHANGES labels — the
      // changed=0 detection round would be round 6) — same labels as the
      // converged propagation
      val chain = (0L until 29L).map(i => (i, i + 1)).toDF("a_id", "b_id")
      val out = GraphOps.connectedComponentsCapped(chain, "a_id", "b_id", maxIter = 5)
      assert(handedOff(out), "a 5-round cap did not hand a 30-node path off")
      val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(labels.length === 30 && labels.forall(_._2 === 0L))
    }
  }

  test("broadcast-sized graph finishes on the driver in <= 2 jobs with the loop's exact schema") {
    import spark.implicits._
    // the edge checkpoint (which observes the row count) and the collect;
    // the forced loop needs a seed job plus one job per round on top
    val shapes = Seq(
      "non-null ids" -> Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 11L))
        .toDF("a_id", "b_id"),
      "nullable ids" -> Seq[(Option[Long], Option[Long])](
          (Some(1L), Some(2L)), (Some(2L), None), (None, Some(7L)))
        .toDF("a_id", "b_id"),
      "int ids" -> Seq((5, 6), (6, 7)).toDF("a_id", "b_id"))
    for ((shape, edges) <- shapes) {
      val (onDriver, jobs) = jobsOf(GraphOps.connectedComponents(edges, "a_id", "b_id"))
      assert(jobs.size <= 2, s"$shape: ${jobs.size} build jobs")
      val (loop, loopJobs) = forcingLoop(
        jobsOf(GraphOps.connectedComponents(edges, "a_id", "b_id")))
      assert(loopJobs.size > 2, s"$shape: the forced loop ran only ${loopJobs.size} jobs")
      assert(onDriver.schema === loop.schema, shape)
      assert(onDriver.collect().toSeq === loop.collect().toSeq, shape)
    }
  }

  test("alternating-star equals min-label propagation on a mixed-shape graph (r8)") {
    import spark.implicits._
    // triangle + pendant, 2-pair component, 3-chain, and a 60-node path
    // (deep) sharing one edge list — the shapes exercise both the star
    // re-hang and the multi-component bookkeeping
    val edges = (Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (10L, 11L), (20L, 21L), (21L, 22L)) ++
      (100L until 159L).map(i => (i, i + 1))).toDF("a_id", "b_id")
    val alt = GraphOps.connectedComponentsAlternating(edges, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the propagation side runs the loop (the default threshold would
    // close this small graph on the driver) and must converge under its cap
    val prop = forcingLoop {
      val out = GraphOps.connectedComponents(edges, "a_id", "b_id")
      assert(!handedOff(out), "the propagation side handed off to alternating-star")
      out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(alt === prop)
    assert((100L to 159L).forall(n => alt(n) === 100L))
  }

  test("triangle counts: K4 vs star, orientation- and duplicate-proof (r8)") {
    import spark.implicits._
    import graft.ops.GraphOps
    // K4 on {1,2,3,4}: 4 triangles, every node in C(3,2) = 3 of them;
    // a star hub 10 with leaves {11,12,13}: zero triangles anywhere
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val star = Seq((10L, 11L), (10L, 12L), (10L, 13L))
    val out = GraphOps.triangleCounts((k4 ++ star).toDF("a_id", "b_id"), "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"hub nodes must not appear; got $out")
    // reversed and duplicated edges must change nothing (canonicalized)
    val messy = (k4 ++ k4.map(_.swap) ++ star).toDF("a_id", "b_id")
    val out2 = GraphOps.triangleCounts(messy, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2 === out)
  }

  test("q71: cluster ids are component minima consistent with the q36 pair graph") {
    val pairs = SparkEntry.queries("q36_jaccard_self_join")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = SparkEntry.queries("q71_dedup_clusters")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.nonEmpty)
    // every pair endpoint is labeled, both endpoints agree, label <= id
    pairs.foreach { case (a, b) =>
      assert(clusters(a) === clusters(b), s"pair ($a,$b) split across clusters")
      assert(clusters(a) <= a)
    }
    // every cluster id is itself a member labeled with itself (the root)
    clusters.values.toSet.foreach { c: Long => assert(clusters(c) === c) }
    // membership is exactly the pair-graph node set
    assert(clusters.keySet === pairs.flatMap(p => Seq(p._1, p._2)).toSet)
  }

  test("pagerank: mass conserved, hub outranks leaves, orientation-proof (r8)") {
    import spark.implicits._
    // star: 1 is the hub of 2..5, plus a detached pair 10-11; mixed edge
    // orientations and a duplicate edge must not change anything
    val edges = Seq((1L, 2L), (3L, 1L), (1L, 4L), (5L, 1L), (1L, 2L),
      (10L, 11L)).toDF("a", "b")
    val r = graft.ops.GraphOps.pageRank(edges, "a", "b", iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.keySet === Set(1L, 2L, 3L, 4L, 5L, 10L, 11L))
    // total rank mass is conserved (no dangling nodes after symmetrizing)
    assert(math.abs(r.values.sum - 1.0) < 1e-9, r.values.sum)
    // the hub strictly outranks every leaf; detached-pair nodes tie
    for (leaf <- Seq(2L, 3L, 4L, 5L)) assert(r(1L) > r(leaf), s"leaf $leaf")
    assert(math.abs(r(10L) - r(11L)) < 1e-15)
    // deterministic across runs (exact decimal contribution sums)
    val r2 = graft.ops.GraphOps.pageRank(edges, "a", "b", iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r === r2)
  }

  test("r20: canonical-edge fast paths equal the defaults on canonical input") {
    import spark.implicits._
    // DISTINCT, low<high oriented — the similarity-pair shape the flags
    // assert; the fast paths must be bit-identical to the safe defaults
    val canon = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L)) ++ (20L until 24L).map(i => (i, i + 1))).toDF("a", "b")
    val triFast = GraphOps.triangleCounts(canon, "a", "b", assumeCanonical = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val triSafe = GraphOps.triangleCounts(canon, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(triFast === triSafe)
    val prFast = GraphOps.pageRank(canon, "a", "b", iters = 3, edgesCanonical = true)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val prSafe = GraphOps.pageRank(canon, "a", "b", iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(prFast === prSafe)
  }

  test("pagerank: empty and self-loop-only edge lists yield empty ranks (r8)") {
    import spark.implicits._
    assert(graft.ops.GraphOps.pageRank(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b").count() === 0L)
    assert(graft.ops.GraphOps.pageRank(
      Seq((7L, 7L)).toDF("a", "b"), "a", "b").count() === 0L)
  }
}
