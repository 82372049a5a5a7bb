package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Connected components over an undirected edge list — the dedup-CLUSTER
  * primitive: near-dup similarity pairs are edges, and keep-one-per-cluster
  * dedup needs the transitive closure (a chain a–b–c is ONE duplicate
  * group even though (a, c) was never emitted as a pair).
  *
  * Dispatch on the MATERIALIZED edge count: the directed edge list is
  * checkpointed once (the upstream plan — for dedup, the whole similarity
  * join — executes exactly once), and its row count rides that job as an
  * observed metric. Then:
  *  - broadcast-sized graphs (rows × 16 B within the session's
  *    `spark.sql.autoBroadcastJoinThreshold`) are collected and finished
  *    by a min-label union-find on the driver. At that size the loop below
  *    already ships the whole label relation through the driver as a
  *    broadcast every round; doing the closure there once replaces the
  *    seed and per-round jobs (14–21 on a 2,000-document dedup batch)
  *    with one collect.
  *  - larger graphs (or a threshold ≤ 0) run iterative min-label
  *    propagation WITH POINTER JUMPING. Every node starts labeled with its
  *    own id; each round takes the min of its own label, its neighbors'
  *    labels, and its LABEL'S label (the shortcut step of classic pointer
  *    jumping, folded into the same join by treating each (node → label)
  *    pointer as one more edge). The shortcut doubles label reach per
  *    round, so convergence is O(log diameter) rounds instead of
  *    O(diameter) (Kiveris et al., "Connected Components in MapReduce and
  *    Beyond", SoCC 2014, motivates the same asymptotics). Two shuffles
  *    per round (join + min-agg); the label-pointer rows add |V| rows to
  *    an |E|-row probe side.
  *
  * Both paths return the same rows, schema and order (PropertiesSpec pins
  * the equivalence, null endpoints included).
  *
  * Scale notes (loop path):
  *  - each round is an equi-join of the edge list against the label
  *    relation plus a partial+final min aggregation — no driver data path.
  *  - `localCheckpoint` truncates plan lineage per round; without it the
  *    logical plan doubles every iteration and Catalyst re-analysis, not
  *    the shuffle, becomes the bottleneck (the standard iterative-DataFrame
  *    pattern).
  *  - convergence is an OBSERVED metric (changed-label count) collected
  *    by each round's own materializing checkpoint action — one driver
  *    action per round, no follow-up probe job.
  *
  * Each dispatch decision is logged at INFO under this object's logger
  * (`graft.ops.GraphOps`): edge rows, bound, path taken, rounds.
  */
object GraphOps extends org.apache.spark.internal.Logging {

  /** Driver-path size estimate per directed edge row: two longs. */
  private val EdgeRowBytes = 16L

  /** Propagation-loop round cap: with pointer jumping, 20 rounds cover any
    * diameter up to ~2^20; a deeper graph hands off to alternating-star.
    */
  private val MaxPropagationRounds = 20

  /** Alternating-star round cap: it converges in O(log n) rounds. */
  private val MaxAlternatingRounds = 60

  /** Label each node of the undirected graph `edges` with the MINIMUM node
    * id reachable from it. Output: (`srcCol` → node id, `cluster_id`), one
    * row per distinct endpoint, totally ordered by node id.
    *
    * Dispatch: see the object scaladoc — broadcast-sized graphs finish on
    * the driver (the union-find always completes); larger ones run the
    * pointer-jumping loop, capped at 20 rounds (`MaxPropagationRounds`). A
    * graph still changing labels at the cap hands its ALREADY
    * MATERIALIZED edge relation to [[connectedComponentsAlternating]]
    * (O(log n) rounds on any shape), so a pathological input degrades to
    * the alternating-star algorithm instead of failing. Which path ran is
    * the observed round count's choice, logged at INFO. A session
    * threshold of −1 forces the loop.
    *
    * A NULL endpoint is not an edge to anything: the non-null nodes form
    * components over the all-non-null edges, and (as the loop's null-key
    * joins have always produced) one NULL-node row is labeled with the
    * minimum of its direct non-null partners, or NULL if it has none.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    connectedComponentsCapped(edges, srcCol, dstCol, MaxPropagationRounds)

  /** [[connectedComponents]] with the propagation loop capped at `maxIter` rounds. */
  private[graft] def connectedComponentsCapped(edges: DataFrame, srcCol: String,
                                               dstCol: String, maxIter: Int): DataFrame = {
    // materialize the (typically expensive) directed edge relation ONCE,
    // observing its row count on the same job — every later consumer (the
    // driver collect, loop rounds, fallback) reads blocks, never the
    // upstream plan
    val (directed, sized) = Materialized.observed(
      edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v")),
      "cc_edges", Seq(count(lit(1)).as("n")))
    val nEdges = sized("n").asInstanceOf[Long]
    val bound = edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    // both orientations per row: a projection of the checkpoint, so the
    // loop's symmetric edge list costs no second materialization
    val und = directed
      .select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    def decided(path: String): Unit =
      logInfo(s"connectedComponents: $nEdges directed edge rows " +
        s"(${nEdges * EdgeRowBytes} B) vs broadcast bound $bound B -> $path")

    if (bound > 0 && nEdges * EdgeRowBytes <= bound) {
      // the loop's output schema: a label is NULL only on a NULL node, so
      // both columns take the node column's nullability
      val nullable = und.schema("u").nullable
      val schema = StructType(Seq(srcCol, "cluster_id").map(StructField(_, LongType, nullable)))
      val rows = directed.collect()
      Materialized.release(directed)
      decided("driver union-find, 0 rounds")
      return edges.sparkSession
        .createDataFrame(java.util.Arrays.asList(unionFind(rows): _*), schema)
        .orderBy(srcCol)
    }

    // seed with the 1-HOP minimum (min over self and direct neighbors) —
    // one aggregation on the edge list, no join: the first propagation
    // round comes free, and a diameter-1 clique (the dominant
    // dedup-cluster shape) then converges in a single loop round
    var labels = und.groupBy("u")
      .agg(least(col("u"), min(col("v"))).as("lbl")).localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // r21 pointer jumping: each node's (u → lbl) pointer rides the probe
      // side as one more edge, so the SAME join + min-agg that collects
      // neighbors' labels also collects the label's own label (the
      // shortcut). min(old, neighbor labels, label-of-label) doubles label
      // reach per round — O(log diameter) rounds. A label self-pointer
      // (root rows, lbl = u) is harmless: it contributes the node's own
      // label, already in the `least`. Hot root keys on the shuffled side
      // are the standard pointer-jumping skew and AQE's skew split applies.
      val rel = und.select(col("u"), col("v"))
        .union(labels.select(col("u"), col("lbl").as("v")))
      val nbrMin = rel.join(labels.select(col("u").as("v"), col("lbl").as("vlbl")), "v")
        .groupBy("u").agg(min(col("vlbl")).as("nlbl"))
      // r20: the convergence check is an OBSERVED metric on the round's own
      // materializing action — the changed-label count is collected by the
      // checkpoint job itself (Dataset.observe riding localCheckpoint),
      // replacing the per-round follow-up `isEmpty` job. One driver action
      // per round instead of two; the metric is exact (count over every
      // row the checkpoint writes), not a sample.
      val prev = labels
      val (next, obs) = Materialized.observed(
        labels.join(nbrMin, Seq("u"), "left")
          .select(col("u"), col("lbl").as("old"),
            least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl")),
        s"cc_round_$i", Seq(count(when(col("lbl") =!= col("old"), 1)).as("changed")))
      converged = obs("changed").asInstanceOf[Long] == 0L
      labels = next.select("u", "lbl")
      // `next` is eagerly materialized above, so round i−1's checkpoint
      // blocks can be dropped now; without this, storage grows linearly
      // with rounds (only the newest label relation — and the edge
      // checkpoint — stay cached; the last one is the caller's result)
      Materialized.release(prev)
      i += 1
    }
    if (!converged) {
      decided(s"propagation loop, $i rounds without converging, alternating-star fallback")
      // the propagation cap is a ROUND bound (≈ log2 diameter with pointer
      // jumping), not an error: re-dispatch the materialized edge relation (the
      // expensive upstream plan, e.g. the whole similarity join, is NOT
      // recomputed; the callee canonicalizes orientation itself)
      Materialized.release(labels)
      val out = connectedComponentsAlternating(directed, "u", "v")
        .withColumnRenamed("u", srcCol)
      // the callee eagerly checkpointed its own canonical edge relation,
      // so the directed edge blocks are droppable the moment it returns
      Materialized.release(directed)
      return out
    }
    decided(s"propagation loop, $i rounds")
    // the result depends only on the FINAL label checkpoint (released by
    // the ContextCleaner when the caller drops the result); the edge
    // relation served its last consumer in the loop above
    Materialized.release(directed)
    labels.select(col("u").as(srcCol), col("lbl").as("cluster_id"))
      .orderBy(srcCol)
  }

  /** The driver path's closure over collected (u, v) rows — the loop's
    * exact output rows in node order. Node ids are sorted and indexed, so
    * union by smaller index keeps every root at its component minimum.
    * NULL endpoints follow the loop: no edge, one NULL-node row labeled
    * with its minimum direct partner (NULL when it has none).
    */
  private def unionFind(rows: Array[Row]): Array[Row] = {
    val ids = {
      val all = rows.iterator
        .flatMap(r => Iterator(0, 1).filterNot(r.isNullAt).map(r.getLong)).toArray
      java.util.Arrays.sort(all)
      all.distinct
    }
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = {
      var i = x
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    var nullNode = false
    var nullLabel: java.lang.Long = null
    rows.foreach { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) {
        nullNode = true
        Seq(0, 1).filterNot(r.isNullAt).foreach { c =>
          val p = r.getLong(c)
          if (nullLabel == null || p < nullLabel) nullLabel = p
        }
      } else {
        val a = find(java.util.Arrays.binarySearch(ids, r.getLong(0)))
        val b = find(java.util.Arrays.binarySearch(ids, r.getLong(1)))
        if (a < b) parent(b) = a else parent(a) = b
      }
    }
    val labeled = ids.indices.map(i => Row(ids(i), ids(find(i))))
    (if (nullNode) Row(null, nullLabel) +: labeled else labeled).toArray
  }

  /** Connected components via alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014): each round hangs every node off the minimum of its
    * neighborhood, halving tree heights — convergence in O(log n) rounds
    * on ANY graph shape, where min-label propagation needs O(diameter).
    * The per-round cost (two neighborhood aggregations + joins on the
    * shrinking edge relation) is higher than propagation's, which is why
    * this is the FALLBACK for deep graphs, not the default for the
    * clique-shaped near-dup clusters dedup produces.
    *
    * large-star: for each node u with m = min(Γ(u) ∪ {u}), re-hang every
    * LARGER neighbor onto m. small-star: with m = min over the SMALLER
    * neighborhood only, re-hang the smaller neighbors and u itself onto
    * m. A fixed point is reached exactly when every component is a star
    * rooted at its minimum, read out as (child → root).
    */
  def connectedComponentsAlternating(edges: DataFrame, srcCol: String,
                                     dstCol: String): DataFrame = {
    def canon(df: DataFrame, keep: Column = col("a") =!= col("b")): DataFrame = df
      .filter(keep)
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
    // the seed keeps self-loops: a node whose only edge is to itself is
    // still a node, its own component (as in the propagation loop). The
    // first large-star round re-hangs only LARGER neighbors, so it drops
    // every loop edge and later rounds never see one.
    val e0 = canon(edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b")), col("a").isNotNull && col("b").isNotNull)
      .localCheckpoint(true)
    // the node universe is fixed by the INPUT edges; star rounds rewire
    // edges, so late rounds may not mention every node
    val nodes = e0.select(col("u").as("node"))
      .union(e0.select(col("v").as("node"))).distinct().localCheckpoint(true)
    var e = e0
    // r21: convergence is one OBSERVED metric per round (like the main
    // loop) — the seed count is the only standalone probe action left
    var prevCount = e0.count()
    var converged = prevCount == 0L
    var i = 0
    while (!converged && i < MaxAlternatingRounds) {
      // large-star
      val und = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val m = und.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
      val ls = canon(und.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b")))
      // small-star over the large-star result
      val lsUnd = ls.select(col("u"), col("v"))
        .union(ls.select(col("v").as("u"), col("u").as("v")))
      val smaller = lsUnd.filter(col("v") < col("u"))
      val m2 = smaller.groupBy("u").agg(min(col("v")).as("m"))
      val prev = e
      // fixed point: same distinct edge count and no edge outside the old
      // set (equal counts + one-sided novelty-emptiness ⇒ set equality).
      // r21: both quantities are OBSERVED metrics collected by the round's
      // own checkpoint action — the prev-membership mark rides a left join
      // against the (already checkpointed) previous edge set, replacing
      // the per-round count() + except().isEmpty follow-up jobs. One
      // driver action per round instead of three.
      val (next, obs) = Materialized.observed(
        canon(
            smaller.join(m2, "u").select(col("v").as("a"), col("m").as("b"))
              .union(m2.select(col("u").as("a"), col("m").as("b"))))
          .join(prev.select(col("u"), col("v"), lit(1).as("in_prev")),
            Seq("u", "v"), "left"),
        s"ccalt_round_$i", Seq(count(lit(1)).as("n"),
          count(when(col("in_prev").isNull, lit(1))).as("novel")),
        _.select("u", "v"))
      val nNext = obs("n").asInstanceOf[Long]
      converged = obs("novel").asInstanceOf[Long] == 0L && nNext == prevCount
      prevCount = nNext
      e = next
      if (prev ne e0) Materialized.release(prev)
      i += 1
    }
    require(converged, s"alternating-star did not converge in $MaxAlternatingRounds rounds")
    // the result depends on `nodes` and the FINAL `e` (ContextCleaner-
    // released with the result); the seed edge checkpoint is dead unless
    // the loop never replaced it
    if (e ne e0) Materialized.release(e0)
    // stars: every edge is (root, child); roots label themselves, and any
    // node the final edge set no longer mentions is its own root
    val labels = e.select(col("v").as("node"), col("u").as("cluster_id"))
      .union(e.select(col("u").as("node"), col("u").as("cluster_id")))
      .distinct()
    val out = nodes.join(labels, Seq("node"), "left")
      .select(col("node").as(srcCol),
        coalesce(col("cluster_id"), col("node")).as("cluster_id"))
      .orderBy(srcCol)
    out
  }

  /** Per-node TRIANGLE counts over an ORIENTED (src < dst) edge relation —
    * the cluster-cohesion signal for a near-dup graph: nodes in dense
    * triangles sit inside genuine duplicate cliques, nodes with many
    * edges but few triangles are hub-shaped false-positive suspects.
    *
    * The classic two-join enumeration with every edge oriented low→high:
    * each triangle x<y<z is produced exactly once as (x,y)+(y,z)+(x,z),
    * so no post-hoc dedup or /3 correction is needed. The edge relation
    * is `localCheckpoint`ed once — the (possibly expensive) upstream plan
    * that produced the edges is never recomputed across the three join
    * arms. Scale: both joins are equi-joins on node ids; the well-known
    * high-degree-node quadratic risk is bounded by orientation (a node's
    * join fan-out is its HIGHER-neighbor count, which for the
    * min-oriented form of a skewed graph is the standard mitigation) and
    * by dedup graphs being clique-shaped with bounded clique sizes.
    *
    * `assumeCanonical = true` (r20): the caller asserts `edges` is already
    * DISTINCT and oriented src < dst per row (the similarity-pair shape),
    * so the canonicalizing least/greatest + `distinct()` shuffle is
    * skipped — identical output for such inputs.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
                     assumeCanonical: Boolean = false): DataFrame = {
    val e0 = edges
      .select(col(srcCol).cast("long").as("a0"), col(dstCol).cast("long").as("b0"))
      .filter(col("a0") =!= col("b0"))
    val e = (if (assumeCanonical)
        e0.select(col("a0").as("a"), col("b0").as("b"))
      else e0
        // canonicalize rather than assume orientation: a reversed or
        // duplicated input edge must not silently drop (or double) a triangle
        .select(least(col("a0"), col("b0")).as("a"),
          greatest(col("a0"), col("b0")).as("b"))
        .distinct())
      .localCheckpoint(true)
    val tri = e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("y"), col("b").as("z")), "y")
      .join(e.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
      .select("x", "y", "z")
    val out = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
      .select(col("node").as(srcCol), col("n_triangles"))
      .orderBy(srcCol)
    out
  }

  /** PageRank over an UNDIRECTED edge list (each edge contributes both
    * directions), fixed iteration count, damping 0.85 — centrality over
    * the near-dup graph: a high-rank node is the hub its duplicate
    * neighborhood points at, i.e. the natural canonical-document choice.
    * The node set is the edge endpoints (symmetrized edges mean every node
    * has out-degree ≥ 1 — no dangling-mass redistribution needed).
    *
    * Determinism at any parallelism: the per-node incoming sum is the ONE
    * order-sensitive reduction in the algorithm, so each contribution
    * `rank/degree` (an IEEE division — correctly rounded, bit-identical
    * on every engine) is cast to DECIMAL(38,18) before summing: the cast
    * is value-correct (round the double's exact binary value at 18 dp) on
    * both engines where a double `round()` can differ by an ulp, and the
    * decimal sum is associative in any shuffle order. The rest of the
    * update (`0.15/n + 0.85·sum`) is a fixed IEEE sequence. Same
    * exact-sum discipline as [[graft.Det]].
    *
    * Scale: each iteration is one equi-join (edges × ranks, shuffled on
    * the node key) plus a partial+final agg — the q71 connected-components
    * cost model; lineage is truncated per round and the previous round's
    * checkpoint is unpersisted. Fixed `iters` (no convergence probe):
    * rank consumers want a bounded-cost estimate, not a fixpoint.
    *
    * `edgesCanonical = true` (r20): the caller asserts `edges` is already
    * DISTINCT with src < dst per row (exactly what the similarity-pair
    * relations emit — one row per unordered pair), so the symmetrizing
    * union cannot produce duplicates and the edge-relation-sized
    * `distinct()` shuffle is skipped. Results are identical for such
    * inputs; leave false for edge lists of unknown provenance.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, damping: Double = 0.85,
               edgesCanonical: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters $iters")
    // r20: symmetrize by EXPLODING both orientations per row instead of a
    // self-union — the union referenced the upstream plan twice, forcing a
    // separate directed-edge checkpoint first (the r9 fix); the explode
    // reads the upstream exactly once, so the whole symmetrized relation
    // lands in one checkpoint job. Same rows.
    val symRaw = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // canonical input ⇒ the symmetrizing explode is duplicate-free by
    // construction and the edge-relation-sized distinct() shuffle drops out.
    // r21: LAZY checkpoint — the degree aggregation below materializes it
    // (full coverage), saving the standalone edge-materialization action;
    // lineage is truncated either way
    val sym = (if (edgesCanonical) symRaw else symRaw.distinct())
      .localCheckpoint(false)
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    // out-degree rides the edge list ONCE — joining deg inside the loop
    // would re-pay an edge-sized shuffle every iteration. r21: lazy too —
    // iteration 1's eager checkpoint is the first materializer, so `sym`'s
    // blocks must survive until then (unpersisted inside the loop below,
    // not here)
    val symDeg = sym.join(deg, "src").localCheckpoint(false)
    var symUnpersisted = false
    val n = deg.agg(count(lit(1)).cast("double").as("n"))
    // the seed ranks are a cheap projection of the (checkpointed) degree
    // relation — r20 drops their separate checkpoint job: iteration 1
    // simply computes them inline, and lineage cannot grow because every
    // iteration checkpoints its own result
    var ranks = deg.crossJoin(broadcast(n))
      .select(col("src").as("node"), (lit(1.0) / col("n")).as("r"))
    // the seed `ranks` is NOT a checkpoint (its plan rides deg's), so the
    // first iteration must not unpersist through it — deg would become
    // unrecomputable while `n` still reads it
    var ranksCheckpointed = false
    for (_ <- 1 to iters) {
      val next = symDeg
        .join(ranks, col("src") === col("node"))
        .select(col("dst"),
          (col("r") / col("deg")).cast("decimal(38,18)").as("contrib"))
        .groupBy("dst").agg(sum(col("contrib")).cast("double").as("in_sum"))
        .crossJoin(broadcast(n))
        .select(col("dst").as("node"),
          (lit(1.0 - damping) / col("n") + lit(damping) * col("in_sum")).as("r"))
        .localCheckpoint(true)
      // the first iteration's eager job materialized symDeg, whose inputs
      // (sym's blocks) have no later consumer — drop them now
      if (!symUnpersisted) { Materialized.release(sym); symUnpersisted = true }
      if (ranksCheckpointed) Materialized.release(ranks)
      ranks = next
      ranksCheckpointed = true
    }
    // every iteration's plan materialized eagerly above, so the degree
    // relations have no remaining consumer; the returned `ranks`
    // checkpoint is ContextCleaner-released when the caller drops it
    Materialized.release(deg)
    Materialized.release(symDeg)
    ranks
  }
}
