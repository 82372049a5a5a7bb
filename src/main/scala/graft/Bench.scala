package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark harness: wall-clock per query at SPARK_GRAFT_SF_DIR, one JSON
  * line on stdout (raw — build.sbt sets run/outputStrategy so sbt does not
  * prefix it) and mirrored to bench_out.json as a parse-proof fallback.
  * A failed query contributes its elapsed time and is reported on stderr —
  * never silently swallowed.
  *
  * METHODOLOGY (changed round 6, per the r5 verdict): each query runs
  * `Runs` times and reports the MINIMUM — rounds 3–5 measured each query
  * once in a shared 32-core JVM and saw 7× swings on unchanged code (q43:
  * 2.6 → 19.1 s r4→r5; q42: 2.9 → 9.7 s), GC/compilation/page-cache noise
  * that single-shot timing cannot separate from plan cost. The min of 3 is
  * the standard steady-state estimator (what JMH calls the best score): it
  * answers "what does this plan cost when the JVM isn't fighting itself",
  * which is the quantity the scale rubric grades. The JSON records
  * runs/agg so cross-round comparisons know the protocol.
  * (Round-5 note, also flagged in ADVICE: the r5 warm-up widened from
  * `region` to all hot tables, so r4→r5 per-query deltas conflate that
  * methodology change; from r6 the warm-up list is every table the graded
  * queries read, recorded here once.)
  */
object Bench {
  val Runs = 3
  /** The slowest queries dominate both the total and its run-to-run spread
    * (BASELINE.md r6: two identical-code totals ranged 27.8–33.0 s, almost
    * entirely from the top of the cost table), so they get extra timing
    * runs: min-of-5 where everything else is min-of-3 — ~10% more bench
    * wall-clock for most of the variance reduction of a global Runs bump.
    */
  val NSlowest = 5
  val ExtraRunsSlowest = 2
  /** 1-minute load average (r20 verdict task 7): lets an adjudication
    * separate host weather from plan movement without forensics. Sampled
    * at bench start AND at emit time — a run can straddle quiet and loaded
    * phases (BASELINE.md r20). -1.0 when unreadable. Additions-only: all
    * frozen envelope fields are untouched.
    */
  private def load1(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val load1Start = load1()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(cpus).getOrCreate()
    // Warm the JVM, codegen pipeline, and parquet reader once so the first
    // measured query reflects query cost, not session startup. Graded
    // queries are NOT pre-run.
    spark.range(1000000).selectExpr("sum(id)").collect()
    // first-touch EVERY table graded queries read (scans only — no graded
    // query logic runs here); `events` goes through Tables.events so the
    // nanos-timestamp read path is exercised too (r5 ADVICE)
    // Warm-up must be failure-tolerant (r10 lesson: a broken events loader
    // here killed the whole bench before a single query was timed — zero
    // numbers instead of 18 per-query FAILED lines). Warn and continue; the
    // per-query try/catch below charges any real failure its 999 s penalty.
    def warm(name: String)(body: => Unit): Unit =
      try body catch {
        case e: Throwable =>
          System.err.println(s"[bench] warm-up $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings")
      .foreach(t => warm(t)(Tables.load(spark, sfDir, t).count()))
    warm("events")(Tables.events(spark, sfDir).count())
    // HOST-SPEED ANCHOR (r11 lesson: the box got A/B-proven ~1.7–2× slower
    // between r9 and r11 on identical code, so raw cross-round totals
    // conflated host drift with plan cost). A fixed, never-changing,
    // CPU-bound micro-query — 2^26-row codegen'd sum, no I/O, no shuffle —
    // timed min-of-5 AFTER the JIT warm-up, emitted as "anchor_sec": every
    // BENCH_rN then carries its own host-speed scale, and cross-era ratios
    // compare (total/anchor) at equal "cpus" instead of raw seconds.
    // DO NOT change this query or its run protocol; its whole value is
    // being identical in every round.
    def anchorOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 26).selectExpr("sum(id * (id % 7))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val anchorSec =
      try (1 to 5).map(_ => anchorOnce()).min
      catch { case e: Throwable =>
        System.err.println(s"[bench] anchor FAILED: ${e.getMessage}"); -1.0 }
    // SECOND ANCHOR (r19 verdict task 5): anchor_sec swung 0.1369–0.1807
    // across same-day identical-code runs (BASELINE.md r19 adjudication
    // table) — a 32% spread on the denominator every cross-round
    // adjudication divides by, which already manufactured one false flag
    // (q08, r18). A 4× longer run with a MEDIAN estimator has far less
    // relative spread (scheduler blips amortize; the median ignores the
    // outlier runs the min chases). Emitted ALONGSIDE the frozen anchor —
    // anchor_sec's value is byte-identity across rounds and never changes;
    // adjudications should prefer anchor2_sec where both sides carry it.
    // Like the others: DO NOT change the query, size, or estimator.
    def anchor2Once(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 28).selectExpr("sum(id * (id % 7))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val anchor2Sec =
      try {
        val xs = (1 to 5).map(_ => anchor2Once()).sorted
        xs(xs.length / 2)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] anchor2 FAILED: ${e.getMessage}"); -1.0 }
    // I/O ANCHOR (r12 verdict task 3): the CPU anchor above cannot see
    // I/O-path drift (page cache, filesystem, parquet decode), which
    // manufactured a spurious 1.30 close-to-close ratio in r12 — scan-bound
    // queries need their own fixed scale. The fixture is REGENERATED
    // DETERMINISTICALLY (seed-free column derivations of range(2^21), 8
    // files) into the system temp dir when absent, so its logical content
    // is identical in every round; the anchor is a min-of-5 full scan +
    // aggregate over its ~64 MB. Like the CPU anchor: DO NOT change the
    // fixture derivation, the aggregate, or the run protocol.
    def ioAnchor(): Double =
      try {
        val fixDir = new java.io.File(sys.props("java.io.tmpdir"),
          "graft_bench_io_fixture_v1").getAbsolutePath
        if (!Files.exists(Paths.get(fixDir, "_SUCCESS")))
          spark.range(1L << 21).selectExpr("id",
              "md5(cast(id as string)) as s", "id % 997 as k")
            .repartition(8).write.mode("overwrite").parquet(fixDir)
        def once(): Double = {
          val t0 = System.nanoTime()
          spark.read.parquet(fixDir)
            .selectExpr("sum(length(s))", "sum(k)", "count(1)").collect()
          (System.nanoTime() - t0) / 1e9
        }
        (1 to 5).map(_ => once()).min
      } catch { case e: Throwable =>
        System.err.println(s"[bench] io anchor FAILED: ${e.getMessage}"); -1.0 }
    val anchorIoSec = ioAnchor()
    var failed = 0
    def timeOnce(name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    }
    val queryFns = SparkEntry.queries
    val firstPass = queryFns.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to Runs).flatMap(_ => timeOnce(name, fn))
      // `failed` counts QUERIES with zero successful runs (rounds 1–5
      // semantics), not failed runs; a query that failed every run still
      // contributes a (large) penalty time so the total can't improve by
      // crashing
      if (times.isEmpty) failed += 1
      name -> (if (times.nonEmpty) times.min else 999.0)
    }
    // refine the slowest queries with extra runs (min across all runs)
    val slowest = firstPass.filter(_._2 < 999.0).sortBy(-_._2).take(NSlowest).map(_._1).toSet
    val results = firstPass.map { case (name, t) =>
      if (slowest(name)) {
        val extra = (1 to ExtraRunsSlowest).flatMap(_ => timeOnce(name, queryFns(name)))
        name -> (t +: extra).min
      } else name -> t
    }
    // 4-decimal seconds, Locale.ROOT-pinned ('.' decimal separator even
    // under comma-decimal default locales — f"" interpolation is
    // locale-sensitive); 0.1 ms granularity is far below run-to-run noise
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // stdout uses 3-dp per-query values (1 ms granularity, far below the
    // run-to-run noise floor): at 130 short-keyed queries the 4-dp line
    // measured 1,855 B — past the 1,850 B fallback — where 3 dp is 1,725 B
    // with headroom to ~140 queries. bench_out.json keeps 4 dp.
    def fmt3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def queryJson(rs: Seq[(String, Double)], keyOf: String => String,
                  f: Double => String): String =
      rs.map { case (k, v) => "\"" + keyOf(k) + "\":" + f(v) }
        .mkString("{", ",", "}")
    val load1End = load1()
    def lineWith(qs: String, extra: String = ""): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"queries":$qs$extra,"sf":"$sfDir","failed":$failed,"runs":$Runs,"agg":"min","slow5_runs":${Runs + ExtraRunsSlowest},"anchor_sec":${fmt(anchorSec)},"anchor2_sec":${fmt(anchor2Sec)},"anchor_io_sec":${fmt(anchorIoSec)},"load1_start":${fmt(load1Start)},"load1_end":${fmt(load1End)},"cpus":"$cpus"}"""
    // The driver captures only the LAST ~2,000 chars of stdout and sbt's
    // trailing "[success] Total time…" line eats ~85 of them, so the stdout
    // line must stay ≤ ~1,900 bytes. Full query names at 82+ queries blew
    // that twice (BENCH_r06/r07 "parsed": null, line start cut mid-JSON).
    // Fix: the stdout line keys each query by its unique qNN prefix
    // ("q01":0.2654 ≈ 13 B/query → ~1.2 KB at 82 queries, headroom to ~140);
    // bench_out.json keeps the full-name map for human/BASELINE use.
    // Past ~140 queries (or any future envelope-field growth) the
    // slowest-40 fallback below bounds the line at ~800 B regardless —
    // at the current 150 queries that fallback IS the emitted shape.
    def shortKey(name: String): String = {
      val cut = name.indexOf('_')
      if (cut > 0) name.substring(0, cut) else name
    }
    val shortKeys = results.map { case (k, _) => shortKey(k) }
    // fall back to full names if prefixes ever collide — a mis-keyed bench
    // is worse than an unparsed one
    val useShort = shortKeys.distinct.size == shortKeys.size
    val keyOf: String => String = if (useShort) shortKey else identity
    val stdoutLine = lineWith(queryJson(results, keyOf, fmt3))
    val fileLine = lineWith(queryJson(results, identity, fmt))
    try Files.writeString(Paths.get("bench_out.json"), fileLine + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    // Graded fallback (r9; replaces r8's all-or-nothing mapless line): the
    // r8 full-map line measured 1,842 of the ~1,900 B the driver's stdout
    // tail can hold — ~5 more queries and the line truncates mid-JSON (the
    // r6/r7 "parsed": null failure). When the full map no longer fits the
    // 1,700 B budget, stdout carries only the SLOWEST-40 map (the queries
    // that move the total and where regressions live: ~40 × 13 B ≈ 520 B,
    // headroom for hundreds of queries) plus "q_omitted" so the truncation
    // is self-describing. bench_out.json always keeps the complete 4-dp
    // full-name map; "n" carries the true query count either way.
    val stdoutFinal =
      if (stdoutLine.length <= 1700) stdoutLine
      else {
        val top = results.sortBy(-_._2).take(40).sortBy(_._1)
        System.err.println(
          s"[bench] stdout line ${stdoutLine.length} B over budget — emitting slowest-${top.size} map")
        lineWith(queryJson(top, keyOf, fmt3), s""","q_omitted":${results.size - top.size}""")
      }
    // the JSON line is the very LAST stdout before shutdown so the driver's
    // tail capture starts at (or after) its first byte, never mid-line
    println(stdoutFinal)
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
