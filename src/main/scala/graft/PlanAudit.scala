package graft

/** One-shot plan-quality sweep over the whole inventory (the audit the
  * per-round verdict performs by hand, mechanized): for every query,
  * count the plan features that are scale red flags unless deliberate —
  * CartesianProduct, BroadcastNestedLoopJoin (acceptable ONLY as 1-row
  * broadcast anchors), and windows with an empty partition spec (a
  * single-partition sort funnel). Prints one line per query with nonzero
  * flags; exit code 0 always (an audit, not a gate — ExplainSpec pins the
  * shapes that must never regress).
  *
  * Usage: runMain graft.PlanAudit [sfDir]
  */
object PlanAudit {

  /** Empty-partition windows whose INPUT is bounded by a domain, not by
    * the corpus — audited by hand (r11) and sanctioned with the reason.
    * A new query joining this list needs the same justification.
    */
  val sanctionedGlobalWindows: Map[String, String] = Map(
    "q35_token_freq_rank" -> "window over the df HISTOGRAM (distinct-df domain); the vocab-sized rank is partitioned by df",
    "q115_rrf_fusion" -> "rank windows run post-limit(50): bounded candidate lists",
    "q124_funnel_stages" -> "window over the 3-row stage union",
    "q132_auc_eval" -> "cum-sum over the SCORE-bucket histogram (score domain, not doc count)",
    "q134_autocorr_daily" -> "lag over the daily series: one row per calendar day")

  /** The detection core, shared with PlanAuditSpec (which turns this
    * advisory sweep into a gate without changing the CLI): red-flag notes
    * for one query's executed-plan string, empty when the plan is clean.
    * A global window is a flag unless `sanctioned` carries the query with
    * a written justification — pass an empty map to see what the sanction
    * list is suppressing (the spec's de-sanction probe).
    */
  def flags(name: String, plan: String,
            sanctioned: Map[String, String] = sanctionedGlobalWindows): Seq[String] = {
    val cart = "CartesianProduct".r.findAllIn(plan).size
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    // IdentityBroadcastMode marks the 1-row-anchor broadcasts that are
    // the only sanctioned BNLJ form in this library
    val anchors = "IdentityBroadcastMode".r.findAllIn(plan).size
    // empty partition spec ⇔ the FIRST argument of windowspecdefinition
    // is already an ordering (… ASC/DESC …) — partition keys, attribute
    // OR expression, always precede the order spec otherwise
    val emptyWin = "windowspecdefinition\\(([^,]*)".r.findAllMatchIn(plan)
      .exists(m => m.group(1).contains(" ASC") || m.group(1).contains(" DESC"))
    Seq(
      if (cart > 0) Some(s"CartesianProduct x$cart") else None,
      if (bnlj > anchors) Some(s"non-anchor BNLJ x${bnlj - anchors}") else None,
      if (emptyWin && !sanctioned.contains(name))
        Some("window with EMPTY partition spec (UNSANCTIONED)") else None
    ).flatten
  }

  /** True when the plan carries a global (empty-partition-spec) window at
    * all, sanctioned or not — lets the spec verify every sanction is
    * LOAD-BEARING (a stale entry for a query that no longer windows
    * globally would silently widen the allowance).
    */
  def hasGlobalWindow(plan: String): Boolean =
    flags("", plan, Map.empty)
      .exists(_.contains("EMPTY partition spec"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder().getOrCreate()
    var flagged = 0
    queries.Inventory.all.sortBy(_.name).foreach { q =>
      try {
        val p = q.fn(spark, sfDir).queryExecution.executedPlan.toString
        if (hasGlobalWindow(p))
          sanctionedGlobalWindows.get(q.name).foreach(why =>
            println(s"[planaudit] ${q.name}: sanctioned global window ($why)"))
        val notes = flags(q.name, p)
        if (notes.nonEmpty) { flagged += 1; println(s"[planaudit] ${q.name}: ${notes.mkString("; ")}") }
      } catch {
        case e: Throwable =>
          flagged += 1
          println(s"[planaudit] ${q.name}: PLAN FAILED ${e.getClass.getSimpleName}: ${e.getMessage.take(120)}")
      }
    }
    println(s"[planaudit] done: $flagged/${queries.Inventory.all.size} flagged")
    spark.stop()
  }
}
