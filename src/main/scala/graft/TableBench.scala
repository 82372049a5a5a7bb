package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{AtomicCommit, DataSkipping}

/** Scale probe for the AtomicCommit table-format stack (BASELINE.md
  * records the numbers): an N-row table over P partition values, then
  * the four read/write paths whose COST MODEL carries the 100 TB claims:
  *
  *   1. full snapshot read — the O(table) baseline;
  *   2. manifest-pruned `readPartitions` of 2 of P partitions — must cost
  *      O(touched), not O(table) (untouched dirs never listed);
  *   3. `DataSkipping.readWhere` on a CLUSTERED value column (partition
  *      ranges disjoint) — stats prove all but 2 partitions disjoint, so
  *      it must track the pruned read, not the full scan;
  *   4. the same predicate on a SHUFFLED layout (every partition spans
  *      the whole value range) — stats can prove nothing, the read
  *      honestly degrades to the full scan + filter. Skipping buys
  *      exactly what the layout's clustering affords, as in any
  *      min/max-skipping format;
  *   5. one incremental merge-commit touching 1 of P partitions — the
  *      write-side O(touched) claim behind the streaming sink and q140.
  *
  * Usage: runMain graft.TableBench [N] [P] (default 4,000,000 rows, 200
  * partitions).
  */
object TableBench {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("meta")) {
      metaProbe(args.drop(1).headOption.map(_.toLong).getOrElse(16000000L),
        args.drop(2).headOption.map(_.toInt).getOrElse(5000))
      return
    }
    if (args.headOption.contains("skew")) {
      skewProbe(args.drop(1).headOption.map(_.toLong).getOrElse(16000000L),
        args.drop(2).headOption.map(_.toInt).getOrElse(200))
      return
    }
    val n = args.headOption.map(_.toLong).getOrElse(4000000L)
    val p = args.drop(1).headOption.map(_.toInt).getOrElse(200)
    val spark = GraftSession.builder().getOrCreate()
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warm-up

    def timed[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime(); val a = body
      println(f"[tablebench] $label%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      a
    }
    val rowsPer = n / p
    // clustered: partition k owns exactly [k*rowsPer, (k+1)*rowsPer)
    val clustered = spark.range(n).select(
      format_string("p%04d", (col("id") / rowsPer).cast("int")).as("pk"),
      col("id").as("v"), md5(col("id").cast("string")).as("payload"))
    // shuffled: same rows, every partition spans the full v range
    val shuffled = clustered.withColumn("pk",
      format_string("p%04d", pmod(xxhash64(col("v")), lit(p)).cast("int")))

    val rootC = Files.createTempDirectory("graft_tb_c").toString
    val rootS = Files.createTempDirectory("graft_tb_s").toString
    timed(s"commit clustered ($n rows, $p parts)") {
      DataSkipping.commitWithStats(spark, rootC, clustered, "pk", Seq("v"))
    }
    timed(s"commit shuffled  ($n rows, $p parts)") {
      DataSkipping.commitWithStats(spark, rootS, shuffled, "pk", Seq("v"))
    }

    // parquet count() answers from row-group metadata without touching
    // data pages — aggregate over the payload BYTES so "read" means read
    def scanned(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(length(col("payload")))).head()
      (r.getLong(0), r.getLong(1))
    }
    val full = timed("full snapshot scan+agg") {
      scanned(AtomicCommit.read(spark, rootC))
    }
    require(full == ((n, 32 * n)), s"full read: $full")

    // r16: METADATA-ANSWERED aggregates — the same count/extrema the
    // full scan above computed, from the manifest + sidecars alone
    // (SupportsPushDownAggregates; compare with the full-scan line)
    {
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      spark.conf.set("spark.graft.table.maggc", rootC)
      graft.sources.GraftScanProbe.reset(rootC)
      val r = timed("metadata count(*)+min/max(v) (no scan)") {
        spark.sql(
          "SELECT count(*), min(v), max(v) FROM graft.maggc").head()
      }
      require(r.getLong(0) == n && r.getLong(1) == 0L && r.getLong(2) == n - 1,
        s"metadata aggregate wrong: $r")
      require(graft.sources.GraftScanProbe.entriesSeen(rootC).isEmpty,
        "metadata aggregate must not build a data scan")
      val g = timed(s"metadata count(*) GROUP BY pk ($p groups)") {
        spark.sql(
          "SELECT pk, count(*) FROM graft.maggc GROUP BY pk").collect()
      }
      require(g.length == p && g.forall(_.getLong(1) == rowsPer),
        "grouped metadata aggregate wrong")
      spark.conf.unset("spark.graft.table.maggc")
    }

    val two = timed("manifest-pruned scan (2 parts)") {
      scanned(AtomicCommit.readPartitions(spark, rootC, Seq("p0003", "p0004")).get)
    }
    require(two._1 == 2 * rowsPer, s"pruned read: $two")

    // a v-interval exactly covering partitions 3 and 4 of the clustered table
    val lo = 3L * rowsPer
    val hi = 5L * rowsPer - 1
    val skipC = timed("readWhere clustered (2-part range)") {
      scanned(DataSkipping.readWhere(spark, rootC, "v", lo, hi))._1
    }
    require(skipC == 2 * rowsPer, s"clustered skip: $skipC")
    val filesC = DataSkipping.readWhere(spark, rootC, "v", lo, hi)
      .inputFiles.length
    val skipS = timed("readWhere shuffled (same range)") {
      scanned(DataSkipping.readWhere(spark, rootS, "v", lo, hi))._1
    }
    require(skipS == 2 * rowsPer, s"shuffled skip: $skipS")
    val filesS = DataSkipping.readWhere(spark, rootS, "v", lo, hi)
      .inputFiles.length
    println(s"[tablebench] files scanned: clustered=$filesC shuffled=$filesS " +
      s"(of ${Seq(rootC).map(r => AtomicCommit.readManifest(r).get.entries.size).head} partitions)")

    // write-side O(touched): replace ONE partition by merge (read base
    // partition + union + commit) on the full-size table
    timed("merge-commit touching 1 partition") {
      val batch = spark.range(5).select(
        lit("p0007").as("pk"), (col("id") + n).as("v"),
        md5(col("id").cast("string")).as("payload"))
      val base = AtomicCommit.readPartitions(spark, rootC, Seq("p0007")).get
      AtomicCommit.commitReplacePartitions(spark, rootC,
        base.unionByName(batch), "pk")
    }

    // TRUE append: the batch commits as its own generation appended to
    // the partition's owner list — no read-back of the partition's
    // existing rows, so the cost is the batch's own bytes + one manifest
    // edit regardless of table size (compare with the merge-commit above,
    // which reads and rewrites the whole touched partition)
    timed("append-commit (5 rows, 1 partition)") {
      val batch = spark.range(5).select(
        lit("p0007").as("pk"), (col("id") + 2 * n).as("v"),
        md5(col("id").cast("string")).as("payload"))
      AtomicCommit.commitAppendPartitions(spark, rootC, batch, "pk")
    }

    // retention delete (v < rowsPer = exactly partition 0's range):
    // clustered + stats → scan/rewrite only the one candidate (here it
    // empties, so the commit is a metadata-only drop); the same delete on
    // the shuffled layout must scan everything and rewrite all P
    // partitions — the full copy-on-write cost skipping exists to avoid
    timed("deleteRange clustered (1-part range)") {
      graft.sources.Deletes.deleteRange(spark, rootC, "v", 0L, rowsPer - 1,
        Seq("v"))
    }
    require(AtomicCommit.readManifest(rootC).get.entries.size == p - 1,
      "partition 0 must be dropped")
    timed("deleteWhere shuffled (same rows)") {
      graft.sources.Deletes.deleteWhere(spark, rootS,
        col("v") < rowsPer)
    }
    require(AtomicCommit.read(spark, rootS).count() == n - rowsPer,
      "shuffled delete removed the wrong rows")

    // MERGE-ON-READ delete (r14): the same CLASS of operation — a point
    // delete in a partition stats cannot prune — as an O(deleted rows)
    // deletion-vector commit instead of the partition rewrite above. The
    // matching scan is unavoidable either way; the WRITE side collapses
    // from rewriting the partition to one tiny vector file + manifest edit
    timed("deleteWhereMoR point delete (1 row, unprunable)") {
      graft.sources.Deletes.deleteWhereMoR(spark, rootS,
        col("v") === (rowsPer + 5L))
    }
    require(AtomicCommit.read(spark, rootS).count() == n - rowsPer - 1,
      "MoR delete removed the wrong rows")

    // EQUALITY delete: the same row-by-key takedown with ZERO data scan —
    // the commit records the (key, values) predicate in the vector
    // sidecar; without bloom sidecars every partition carries it (this
    // table has stats only), with them the record narrows to admitting
    // partitions. Readers pay a codegen NOT-IN filter until compaction.
    timed("deleteKeysMoR equality delete (no scan)") {
      graft.sources.Deletes.deleteKeysMoR(spark, rootS, "v",
        Seq(rowsPer + 9L))
    }
    require(AtomicCommit.read(spark, rootS).count() == n - rowsPer - 2,
      "equality delete removed the wrong rows")

    // MATERIALIZE the equality record into position bitmaps: one scan of
    // only the marked partitions (here the worst case — no blooms, so
    // all of them carry the record) resolves the predicate into exact
    // addresses, and the evidence returns to the bitmap shape every fast
    // path serves. Compare purgeVectors, which heals the same state by
    // REWRITING the marked data (the recluster below shows that cost).
    timed("materialize eq deletes (all parts marked)") {
      graft.sources.Deletes.materializeEqDeletes(spark, rootS)
    }
    require(AtomicCommit.read(spark, rootS).count() == n - rowsPer - 2,
      "materialization changed visible rows")
    require(graft.sources.Deletes.materializeEqDeletes(spark, rootS).isEmpty,
      "re-materialization must be a no-op")

    // RECLUSTER (r13): the repair for the shuffled layout's cost gap.
    // Partition values are DATA (pk is a queryable column), so no rewrite
    // can move rows between directories or recover the clustered table's
    // 2-of-P partition pruning — the repairable axis is WITHIN each
    // directory: sort by v, split into files each owning a narrow v
    // range, regenerate FILE-granular stats. The same range probe then
    // reads ~1 of filesPerDir files per partition instead of everything.
    val reclusterFiles = 8
    // bytes scanned is the metric that carries to 100 TB: at this SF the
    // per-file open cost can mask the win, at real file sizes it cannot
    def bytesOf(df: org.apache.spark.sql.DataFrame): Long =
      df.inputFiles.map(f => new java.io.File(new java.net.URI(f)).length).sum
    val preProbe = timed("readWhere shuffled post-delete (no stats)") {
      scanned(DataSkipping.readWhere(spark, rootS, "v", lo, hi))._1
    }
    val preFiles = DataSkipping.readWhere(spark, rootS, "v", lo, hi).inputFiles.length
    val preBytes = bytesOf(DataSkipping.readWhere(spark, rootS, "v", lo, hi))
    val (fb, fa) = timed(s"recluster shuffled (sort v, $reclusterFiles files/dir)") {
      graft.sources.Compaction.recluster(spark, rootS, Seq("v"),
        filesPerDir = reclusterFiles)
    }
    val postProbe = timed("readWhere shuffled AFTER recluster") {
      scanned(DataSkipping.readWhere(spark, rootS, "v", lo, hi))._1
    }
    require(postProbe == preProbe, s"recluster changed the probe: $preProbe -> $postProbe")
    val postFiles = DataSkipping.readWhere(spark, rootS, "v", lo, hi).inputFiles.length
    val postBytes = bytesOf(DataSkipping.readWhere(spark, rootS, "v", lo, hi))
    println(s"[tablebench] recluster: data files $fb -> $fa; range-probe " +
      f"files $preFiles -> $postFiles, bytes ${preBytes / 1e6}%.1f MB -> ${postBytes / 1e6}%.1f MB")

    // r17f: RECLUSTER'S SORT ORDER AS A QUERY ASSET — the rewrite just
    // paid one range shuffle to sort every file by v; the batch face
    // claims [pk ASC, v ASC] from that provenance (sidecar-verified), so
    // a PARTITION BY pk ORDER BY v window plans with ZERO exchange and
    // ZERO sort. The V1 face pays the full shuffle + sort of all N rows
    // for the same answer — at 100 TB that pair is the whole cost of
    // every "latest per key" / rank / dedup-by-recency analytic.
    // conf sets under try/finally: a failed require must not leave the
    // batch face + table registration enabled for every later stage
    try {
      spark.conf.set("spark.graft.table.rsrt", rootS)
      // v is globally unique so ranks are deterministic; (v % 1000) * rn
      // is order-sensitive (a misordered window changes the pairing) and
      // bounded far below long overflow at this scale
      val qw = "SELECT max(rn) AS m, sum(v % 1000 * rn) AS s FROM (SELECT v, " +
        "row_number() OVER (PARTITION BY pk ORDER BY v) AS rn FROM graft.rsrt)"
      val wOff = timed("pk-window over reclustered, V1 face") {
        spark.sql(qw).head()
      }
      spark.conf.set(graft.sources.GraftBatchScan.EnabledConf, "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val dW = spark.sql(qw)
      val wOn = timed("pk-window, sort-free batch face") {
        dW.head()
      }
      val planW = dW.queryExecution.executedPlan.toString
      require(!planW.contains("Exchange hashpartitioning"),
        s"the keyed window must not exchange:\n${planW.take(1500)}")
      require(!planW.contains("Sort ["),
        s"recluster's sort order must serve the window sort-free:\n${planW.take(1500)}")
      def asL(r: org.apache.spark.sql.Row, i: Int): Long =
        r.getAs[Number](i).longValue
      require((0 until 2).forall(i => asL(wOn, i) == asL(wOff, i)),
        s"window answers diverged: $wOn vs $wOff")
      println(s"[tablebench] sort-order window A/B max_rn=${asL(wOn, 0)}")
    } finally {
      spark.conf.unset(graft.sources.GraftBatchScan.EnabledConf)
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.graft.table.rsrt")
    }

    // METADATA COUNT: a range COUNT whose stats decide every slice costs
    // manifest+sidecar reads only — compare with the scan it replaces
    // range over partitions no later commit touched: their stats decide
    // everything, so the metadata path does zero data I/O
    val cLo = 10L * rowsPer
    val cHi = 12L * rowsPer - 1
    val viaScan = timed("count via scan+filter (2-part range)") {
      AtomicCommit.read(spark, rootC).filter(col("v").between(cLo, cHi)).count()
    }
    val viaMeta = timed("countWhere from stats (same range)") {
      DataSkipping.countWhere(spark, rootC, "v", cLo, cHi)
    }
    require(viaMeta == viaScan, s"countWhere: $viaMeta != $viaScan")

    // CHANGE FEED cost model: a consumer's catch-up tick pays for the
    // history it missed (here: the whole table, as CDC batches), but a
    // steady-state tick pays O(one batch) — the manifest diff locates the
    // changed partitions without scanning anything else
    val feedDst = Files.createTempDirectory("graft_tb_feed").toString
    timed("feed catch-up (4-version history -> empty replica)") {
      graft.streaming.ChangeFeed.replicateCdc(spark, rootC, feedDst, "tb", "v")
    }
    require(AtomicCommit.read(spark, feedDst).count() ==
      AtomicCommit.read(spark, rootC).count(), "replica diverged")
    val batch = spark.range(5).select(
      lit("p0009").as("pk"), (col("id") + 3 * n).as("v"),
      md5(col("id").cast("string")).as("payload"))
    graft.streaming.AtomicStreamSink.commitBatch(rootC,
      new graft.sources.PosixManifestStore(rootC), "pk", "tbin", batch, 0L)
    timed("feed tick (1 changed partition of 199)") {
      graft.streaming.ChangeFeed.replicateCdc(spark, rootC, feedDst, "tb", "v")
    }
    require(AtomicCommit.read(spark, feedDst).count() ==
      AtomicCommit.read(spark, rootC).count(), "replica diverged after tick")

    // MULTI-TABLE TRANSACTION overhead: the protocol's cost over two
    // independent commits is pure metadata — one extra CAS per table
    // (the seal) plus one decision object — and is independent of table
    // size (data is staged before either path starts). Claims the
    // "atomicity costs manifests, not data" line in BASELINE.md.
    import graft.sources.{PosixManifestStore, Transactions}
    val txA = Files.createTempDirectory("graft_tb_txa").toString
    val txB = Files.createTempDirectory("graft_tb_txb").toString
    val (txsA, txsB) = (new PosixManifestStore(txA), new PosixManifestStore(txB))
    def smallDf(tag: Long) = spark.range(1000).select(
      concat(lit("p"), (col("id") % 4).cast("string")).as("pk"),
      (col("id") + tag).as("v"))
    AtomicCommit.commitReplacePartitions(spark, txA, txsA, smallDf(0), "pk", 1)
    AtomicCommit.commitReplacePartitions(spark, txB, txsB, smallDf(0), "pk", 1)
    val seqStaged = Seq((txA, txsA), (txB, txsB)).map { case (r, s) =>
      (r, s, AtomicCommit.stage(spark, r, s, smallDf(1000000), "pk", 1))
    }
    timed("two sequential single-table publishes (pre-staged)") {
      seqStaged.foreach { case (r, s, st) => AtomicCommit.publish(r, s, st) }
    }
    val txnStaged = Seq((txA, txsA), (txB, txsB)).map { case (r, s) =>
      Transactions.Participant(r, s,
        AtomicCommit.stage(spark, r, s, smallDf(2000000), "pk", 1))
    }
    timed("same two commits as ONE transaction (commitAll, pre-staged)") {
      Transactions.commitAll(txnStaged)
    }
    require(AtomicCommit.read(spark, txA).select(max(col("v"))).head.getLong(0)
      >= 2000000L, "transaction content missing on table A")

    // DELETION-VECTOR BITMAPS (late r14): the read-merge cost of a LIVE
    // scattered vector, bitmap probe vs the pre-bitmap anti-join on the
    // same vector — plus the compressed-evidence size the bitmap ships
    // to executors instead of a row per deleted row. rootS is freshly
    // reclustered (vectors purged), so the one vector below is the only
    // merge evidence in the read.
    val preCnt = AtomicCommit.read(spark, rootS).count()
    val matched = AtomicCommit.read(spark, rootS)
      .filter(col("v") % 97 === 0).count()
    timed(s"deleteWhereMoR scattered ($matched rows marked)") {
      graft.sources.Deletes.deleteWhereMoR(spark, rootS, col("v") % 97 === 0)
    }
    val mS = AtomicCommit.readManifest(rootS).get
    val dvGens = mS.entries.values.flatMap(AtomicCommit.dvOf).toSet
    def treeBytes(p: java.nio.file.Path): Long = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
    val posBytes = dvGens.toSeq.map { g =>
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(rootS, g))
      try s.iterator().asScala
        .filter(f => f.toString.endsWith(".parquet"))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }.sum
    val dvbBytes = dvGens.toSeq
      .map(g => java.nio.file.Paths.get(rootS, g, "_dvb"))
      .filter(java.nio.file.Files.isDirectory(_)).map(treeBytes).sum
    println(f"[tablebench] vector evidence: positions ${posBytes / 1e3}%.1f KB" +
      f" -> bitmaps ${dvbBytes / 1e3}%.1f KB")
    val mergedCnt = timed("vectored full read (bitmap probe)") {
      AtomicCommit.read(spark, rootS).count()
    }
    require(mergedCnt == preCnt - matched,
      s"bitmap merge wrong: $mergedCnt != $preCnt - $matched")
    // strip the sidecars → the same read degrades to the anti-join
    dvGens.foreach { g =>
      val d = java.nio.file.Paths.get(rootS, g, "_dvb")
      if (java.nio.file.Files.isDirectory(d)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    val legacyCnt = timed("vectored full read (anti-join fallback)") {
      AtomicCommit.read(spark, rootS).count()
    }
    require(legacyCnt == mergedCnt, s"fallback diverged: $legacyCnt != $mergedCnt")

    // MERGE builder ladder (graft.sources.Merge): the cost model to prove
    // is O(one key-column discovery pass + touched-partition rewrite) —
    // a multi-clause merge whose matches land in 2 partitions and whose
    // inserts open 1 new partition must not rewrite the other p-2. Fresh
    // table so the ladder above keeps its state and these numbers stay
    // comparable round to round.
    {
      val rootM = Files.createTempDirectory("graft_tb_m").toString
      timed(s"commit merge-probe table ($n rows)") {
        AtomicCommit.commitReplacePartitions(spark, rootM, clustered, "pk")
      }
      val mc0 = AtomicCommit.readManifest(rootM).get
      val twoParts = mc0.entries.keys.toSeq.sorted.take(2)
      val updates = twoParts.map { pk =>
        val lo = pk.stripPrefix("p").toLong * rowsPer
        spark.range(lo, lo + rowsPer / 2).select(
          lit(pk).as("pk"), col("id").as("v"), lit("merged").as("payload"))
      }.reduce(_ unionByName _)
      val inserts = spark.range(n + 1000, n + 2000).select(
        lit("pzzzz").as("pk"), col("id").as("v"),
        lit("inserted").as("payload"))
      val src = updates.unionByName(inserts)
      timed("Merge 2-part update + 1-part insert") {
        graft.sources.Merge.into(spark, rootM).using(src).onKeys("v")
          .whenMatchedUpdate(Map("payload" -> col("s.payload")))
          .whenNotMatchedInsertAll()
          .run()
      }
      val mc1 = AtomicCommit.readManifest(rootM).get
      val untouched = mc0.entries.keySet.filterNot(twoParts.contains)
      require(untouched.forall(k => mc1.entries(k) == mc0.entries(k)),
        "merge rewrote partitions outside its touched set")
      require(mc1.entries.contains("pzzzz"), "merge insert partition missing")
      require(AtomicCommit.read(spark, rootM)
        .where(col("payload") === "merged").count() == rowsPer.toLong,
        "merge update row count off")

      // insert-only fast path: 100k new keys scattered across ALL
      // existing partitions — the dedup-append shape. Lowered to one
      // anti-join + APPEND commit; the general path would have read and
      // rewritten every destination partition for byte-identical rows.
      val mc2 = AtomicCommit.readManifest(rootM).get
      val scattered = spark.range(n + 100000, n + 200000).select(
        format_string("p%04d", pmod(xxhash64(col("id")), lit(p)).cast("int"))
          .as("pk"),
        col("id").as("v"), lit("late").as("payload"))
      timed("Merge insert-only (100k rows, all parts)") {
        graft.sources.Merge.into(spark, rootM).using(scattered).onKeys("v")
          .whenNotMatchedInsertAll()
          .run()
      }
      require(AtomicCommit.history(rootM).last.kind == "append",
        "insert-only merge must commit as a pure append")
      val mc3 = AtomicCommit.readManifest(rootM).get
      require(mc2.entries.forall { case (k, e) =>
        mc3.entries(k).startsWith(e) }, // owner lists grew, nothing rewrote
        "insert-only merge rewrote a partition")
    }

    // COLUMN MAPPING (r15): RENAME/DROP COLUMN cost ONE manifest object
    // each — zero data I/O at any table size — and the read-side price
    // of the rename chain is one Project per generation (compare the
    // post-rename full scan with the "full snapshot scan+agg" line
    // above). ANALYZE retrofits statistics evidence INCREMENTALLY: this
    // table's original generation was committed with stats, the
    // merge/append/feed batches after it were not, so the first run
    // scans exactly the unannotated generations and the re-run proves
    // the no-work path is metadata-only.
    {
      import graft.sources.PosixManifestStore
      val storeC = new PosixManifestStore(rootC)
      val preCount = AtomicCommit.read(spark, rootC).count()
      timed("RENAME COLUMN payload->body (metadata)") {
        AtomicCommit.renameColumn(spark, rootC, storeC, "payload", "body")
      }
      val afterRename = timed("full scan+agg AFTER rename") {
        val r = AtomicCommit.read(spark, rootC)
          .agg(count(lit(1)), sum(length(col("body")))).head()
        r.getLong(0)
      }
      require(afterRename == preCount,
        s"rename changed the row count: $afterRename != $preCount")
      val mC = AtomicCommit.readManifest(rootC).get
      val w1 = timed("ANALYZE v: retrofit unannotated gens") {
        DataSkipping.analyze(spark, rootC, mC, Seq("v"))
      }
      val w2 = timed("ANALYZE v: re-run (evidence complete)") {
        DataSkipping.analyze(spark, rootC, mC, Seq("v"))
      }
      println(s"[tablebench] analyze sidecars written: first=$w1 rerun=$w2 " +
        s"of ${mC.entries.values.flatMap(AtomicCommit.ownersOf).toSet.size} gens")
      require(w2 == 0, "re-analyze must be a metadata-only no-op")
      timed("DROP COLUMN body (metadata)") {
        AtomicCommit.dropColumn(spark, rootC, storeC, "body")
      }
      require(!AtomicCommit.read(spark, rootC).columns.contains("body"),
        "dropped column still visible")
      // r16: safe type widening is the same cost class — one props
      // commit, zero data I/O; the read-side cast is one Project per
      // narrow generation (compare the post-widen scan line with the
      // baseline full scan above)
      timed("WIDEN COLUMN v int->?  n/a, v is long; widen a fresh int col") {
        AtomicCommit.addColumnsAtomic(spark, rootC, storeC,
          org.apache.spark.sql.types.StructType.fromDDL("w INT"))
      }
      timed("ALTER COLUMN w TYPE BIGINT (metadata)") {
        AtomicCommit.widenColumn(spark, rootC, storeC, "w",
          org.apache.spark.sql.types.LongType)
      }
      val postWiden = timed("full scan+agg AFTER widen") {
        AtomicCommit.read(spark, rootC)
          .agg(count(lit(1)), sum(col("w"))).head().getLong(0)
      }
      require(postWiden == preCount,
        s"widen changed the row count: $postWiden != $preCount")
      require(AtomicCommit.read(spark, rootC).schema("w").dataType ==
        org.apache.spark.sql.types.LongType, "widened type not visible")
    }
    // RUNTIME FILTERING (r16): a broadcast dim join's built key set
    // prunes the fact scan at execution ([[graft.plans
    // .RuntimeFilterRule]] → GraftV1Scan.filter). A/B the SAME 2-key
    // dim join over the shuffled table with the rule off and on: off
    // reads all P partitions (the join key reaches the scan only at
    // runtime — no static filter exists to push), on reads exactly 2.
    {
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      spark.conf.set("spark.graft.table.rtfact", rootS)
      spark.createDataFrame(Seq(("p0003", 1), ("p0007", 1)))
        .toDF("pk2", "m").createOrReplaceTempView("rt_dim")
      val q = "SELECT count(*) AS c, sum(length(f.payload)) AS b " +
        "FROM graft.rtfact f JOIN rt_dim d ON f.pk = d.pk2"
      val expect = AtomicCommit.read(spark, rootS)
        .where(col("pk").isin("p0003", "p0007")).count()
      spark.conf.set("spark.graft.runtimeFilter.enabled", "false")
      graft.sources.GraftScanProbe.reset(rootS)
      val off = timed("dim-join scan, runtime filter OFF") {
        spark.sql(q).head()
      }
      require(off.getLong(0) == expect, s"off-row count ${off.getLong(0)}")
      val seenOff = graft.sources.GraftScanProbe.entriesSeen(rootS)
      spark.conf.set("spark.graft.runtimeFilter.enabled", "true")
      graft.sources.GraftScanProbe.reset(rootS)
      val on = timed("dim-join scan, runtime filter ON") {
        spark.sql(q).head()
      }
      require(on.getLong(0) == expect && on.getLong(1) == off.getLong(1),
        s"runtime filter changed the answer: $on vs $off")
      val seenOn = graft.sources.GraftScanProbe.entriesSeen(rootS)
      require(seenOn.last == 2,
        s"runtime filter must prune the executed scan to 2 of $p entries, " +
          s"saw $seenOn (off: $seenOff)")
      println(s"[tablebench] runtime-filter scan entries: " +
        s"off=${seenOff.last} on=${seenOn.last} of $p")

      // r16: FILE-granular runtime pruning — the reclustered (v-sorted)
      // layout means 2 runtime join keys touch ~2 files per partition,
      // not the partition directories (the join key is scattered across
      // every partition, so entry-level pruning can't help here)
      val totalFiles = AtomicCommit.read(spark, rootS).inputFiles.length
      val vProbes = Seq(5L, n - 5L)
      val expectV = AtomicCommit.read(spark, rootS)
        .where(col("v").isin(vProbes: _*)).count()
      spark.createDataFrame(vProbes.map(v => (v, 1)))
        .toDF("v2", "m").createOrReplaceTempView("rt_dimv")
      // the payload aggregate keeps the projected fact WIDE, so the dim
      // (not the width-pruned fact) is the broadcast side
      val qv = "SELECT count(*) AS c, sum(length(f.payload)) AS b " +
        "FROM graft.rtfact f JOIN rt_dimv d ON f.v = d.v2"
      spark.conf.set("spark.graft.runtimeFilter.enabled", "false")
      val offV = timed("v-key dim join, runtime filter OFF") {
        spark.sql(qv).head()
      }
      spark.conf.set("spark.graft.runtimeFilter.enabled", "true")
      graft.sources.GraftScanProbe.reset(rootS)
      val onV = timed("v-key dim join, runtime filter ON (files)") {
        spark.sql(qv).head()
      }
      require(onV.getLong(0) == expectV && offV.getLong(0) == expectV,
        s"v-key join answer moved: on=$onV off=$offV expect=$expectV")
      val filesSeen = graft.sources.GraftScanProbe.filesSeen(rootS)
      require(filesSeen.nonEmpty && filesSeen.last < totalFiles / 2,
        s"runtime keys must prune files: $filesSeen of $totalFiles")
      println(s"[tablebench] runtime-filter files read: " +
        s"${filesSeen.last} of $totalFiles")

      // r17: OVER-BUDGET key sets — 4000 distinct v keys (64× past a
      // maxKeys=64 exact budget) drawn from TWO clustered partitions'
      // ranges. The r16 behavior degraded past maxKeys to [min, max]
      // bounds, which admit every partition the SPAN covers (5 here);
      // the r17 extended budget ships the full set and the per-value
      // interval evidence prunes to exactly the 2 partitions that hold
      // keys. A/B by capping bloomMaxKeys under the set size (old
      // behavior) vs the default.
      spark.conf.set("spark.graft.table.rtclu", rootC)
      spark.conf.set("spark.graft.runtimeFilter.maxKeys", "64")
      val bigKeys = (0 until 2000).map(i => 3L * rowsPer + i) ++
        (0 until 2000).map(i => 7L * rowsPer + i)
      require(bigKeys.forall(_ < n), "key fixture must stay in range")
      spark.createDataFrame(bigKeys.map(v => (v, 1))).toDF("v2", "m")
        .createOrReplaceTempView("rt_dimbig")
      // (the DDL section above renamed+dropped rootC's payload; v is
      // the surviving wide-enough probe column)
      val qb = "SELECT count(*) AS c, sum(f.v) AS b " +
        "FROM graft.rtclu f JOIN rt_dimbig d ON f.v = d.v2"
      spark.conf.set("spark.graft.runtimeFilter.bloomMaxKeys", "100")
      graft.sources.GraftScanProbe.reset(rootC)
      val boundsOnly = timed("4000-key dim join, bounds-only fallback") {
        spark.sql(qb).head()
      }
      val seenBounds = graft.sources.GraftScanProbe.entriesSeen(rootC).last
      spark.conf.set("spark.graft.runtimeFilter.bloomMaxKeys",
        (1 << 17).toString)
      graft.sources.GraftScanProbe.reset(rootC)
      val fullSet = timed("4000-key dim join, extended key budget") {
        spark.sql(qb).head()
      }
      val seenFull = graft.sources.GraftScanProbe.entriesSeen(rootC).last
      require(boundsOnly.getLong(0) == bigKeys.length &&
        fullSet == boundsOnly,
        s"over-budget A/B answers moved: $boundsOnly vs $fullSet")
      require(seenFull == 2,
        s"extended budget must prune to the 2 key-holding partitions, " +
          s"saw $seenFull")
      require(seenBounds >= 4,
        s"premise: the bounds span must cover >2 partitions, saw $seenBounds")
      println(s"[tablebench] over-budget (4000 keys, maxKeys=64) scan " +
        s"entries: bounds-only=$seenBounds extended=$seenFull of $p")
      spark.conf.set("spark.graft.runtimeFilter.maxKeys", "1024")

      // r17: N-WAY JOIN REORDER A/B — a worst-first 3-table chain over
      // the 16M fact: written order joins fact×mid (a real shuffle of
      // both) before the 100-row selective table. The greedy NDV
      // reorder joins fact×selective first (its estimated output is
      // tiny), and everything after rides broadcasts.
      val rootM = Files.createTempDirectory("graft_tb_mid").toString
      val rootSel = Files.createTempDirectory("graft_tb_sel").toString
      // the selective keys must SURVIVE the deleteRange above (which
      // dropped partition 0, v < rowsPer) AND land inside mid's 0..1M-1
      // key range — spread them across [rowsPer, min(n, 1M)) so the
      // fixture adapts to any (n, p) shape instead of assuming
      // rowsPer < 100k (the r17 fixture's silent premise, which emptied
      // the join at 64M/400 and crashed the A/B on a null aggregate)
      val selLo = rowsPer
      val selHi = math.min(n, 1000000L)
      require(selLo + 100 <= selHi,
        s"join-reorder fixture needs 100 surviving keys under 1M: " +
          s"rowsPer=$rowsPer leaves none (n=$n p=$p)")
      val selStep = math.max(1L, (selHi - selLo) / 100)
      timed("commit mid (1M rows) + selective (100 rows)") {
        DataSkipping.commitWithStats(spark, rootM,
          spark.range(1000000).select(col("id").as("mk"),
            md5(col("id").cast("string")).as("mpad"), lit("A").as("pp")),
          "pp", Seq("mk"))
        DataSkipping.commitWithStats(spark, rootSel,
          spark.range(100).select(
            (col("id") * selStep + selLo).as("sk"),
            lit("A").as("pp")), "pp", Seq("sk"))
      }
      spark.conf.set("spark.graft.table.rtmid", rootM)
      spark.conf.set("spark.graft.table.rtsel", rootSel)
      // the fact carries pk into the aggregate so the written-order
      // fact×mid join SHUFFLES the wide 16M side; the reordered plan
      // broadcasts the 100-row side first and never shuffles the fact
      val qn = "SELECT count(*) AS c, sum(length(f.pk)) AS w, " +
        "sum(length(m.mpad)) AS b " +
        "FROM graft.rtclu f " +
        "JOIN graft.rtmid m ON f.v = m.mk " +
        "JOIN graft.rtsel s ON f.v = s.sk"
      spark.conf.set("spark.graft.joinReorder.enabled", "false")
      val reorderOff = timed("3-table worst-first join, reorder OFF") {
        spark.sql(qn).head()
      }
      spark.conf.set("spark.graft.joinReorder.enabled", "true")
      val planOn = spark.sql(qn).queryExecution.optimizedPlan.toString
      require(planOn.indexOf("rtsel") >= 0 &&
        planOn.indexOf("rtsel") < planOn.indexOf("rtmid"),
        s"reorder must move the selective table first:\n${planOn.take(1500)}")
      val reorderOn = timed("3-table worst-first join, reorder ON") {
        spark.sql(qn).head()
      }
      require((0 until 3).forall(i =>
        reorderOn.getLong(i) == reorderOff.getLong(i)),
        s"reorder changed the answer: $reorderOn vs $reorderOff")
      println(s"[tablebench] join-reorder A/B rows=${reorderOn.getLong(0)}")
    }

    // r17b: STORAGE-PARTITIONED JOIN A/B — the graft batch face
    // ([[graft.sources.GraftBatchScan]]) reports key-grouped output
    // partitioning, so a join of two tables co-partitioned on pk plans
    // with ZERO exchanges: the wide fact is never shuffled, which at
    // 100 TB is the whole cost of the recurring fact-to-dim join. Fresh
    // tables (rootC carries delete/rename/widen state by now, which
    // correctly gates the batch face out).
    {
      val rootF = Files.createTempDirectory("graft_tb_spjf").toString
      val rootG = Files.createTempDirectory("graft_tb_spjg").toString
      timed(s"commit SPJ fact ($n rows) + dim (1 row/key, $p parts)") {
        DataSkipping.commitWithStats(spark, rootF, clustered, "pk", Seq("v"))
        DataSkipping.commitWithStats(spark, rootG,
          spark.range(p).select(
            format_string("p%04d", col("id").cast("int")).as("pk"),
            (col("id") * 7L).as("w")),
          "pk", Seq("w"))
      }
      spark.conf.set("spark.graft.table.spjf", rootF)
      spark.conf.set("spark.graft.table.spjg", rootG)
      // the payload aggregate keeps the shuffled fact WIDE — exactly the
      // bytes storage-partitioned planning saves
      val q = "SELECT count(*) AS c, sum(f.v + g.w) AS s, " +
        "sum(length(f.payload)) AS b FROM graft.spjf f " +
        "JOIN graft.spjg g ON f.pk = g.pk"
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val spjOff = timed("co-partitioned join, SPJ OFF (fact shuffles)") {
        spark.sql(q).head()
      }
      spark.conf.set(graft.sources.GraftBatchScan.EnabledConf, "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
        "true")
      val dOn = spark.sql(q)
      val spjOn = timed("co-partitioned join, SPJ ON (zero shuffles)") {
        dOn.head()
      }
      // the only sanctioned exchange is the global aggregate's
      // SinglePartition fold; the JOIN itself must not repartition
      val planOn = dOn.queryExecution.executedPlan.toString
      require(!planOn.contains("Exchange hashpartitioning"),
        s"the SPJ join must not shuffle:\n${planOn.take(1500)}")
      // r17e: the scan reports [pk ASC] per key group (constant within
      // a group) and coalesces each key's files into one split, so the
      // merge join plans SORT-FREE — no SortExec anywhere, the sort +
      // spill of the wide fact is gone along with its shuffle
      require(!planOn.contains("Sort ["),
        s"the SPJ join must not sort either side:\n${planOn.take(1500)}")
      require((0 until 3).forall(i => spjOn.getLong(i) == spjOff.getLong(i)),
        s"SPJ changed the answer: $spjOn vs $spjOff")
      println(s"[tablebench] spj A/B rows=${spjOn.getLong(0)}")

      // r17c: DV-SERVED FACE — a scattered merge-on-read delete must not
      // forfeit the shuffle-free join: marked files carry their bitmaps
      // per split (row-path), clean files stay columnar, and the join
      // still plans with zero exchanges. Compare against the V1
      // fallback the old gate forced (face off: DvKeep + full shuffle).
      val dead = spark.range(n).filter(col("id") % 10007L === 0L).count()
      timed(s"deleteWhereMoR scattered on SPJ fact ($dead rows)") {
        graft.sources.Deletes.deleteWhereMoR(spark, rootF,
          pmod(col("v"), lit(10007L)) === 0L)
      }
      val dDv = spark.sql(q)
      val dvOn = timed("co-part join, SPJ ON + DV bitmaps") {
        dDv.head()
      }
      val planDv = dDv.queryExecution.executedPlan.toString
      require(!planDv.contains("Exchange hashpartitioning"),
        s"the DV-served SPJ join must not shuffle:\n${planDv.take(1500)}")
      require(!planDv.contains("Sort ["),
        s"the DV-served SPJ join must stay sort-free:\n${planDv.take(1500)}")
      require(planDv.contains("BatchScan"),
        "bitmap-only evidence must keep the batch face")
      require(dvOn.getLong(0) == spjOn.getLong(0) - dead,
        s"DV-served join count wrong: ${dvOn.getLong(0)}")
      spark.conf.unset(graft.sources.GraftBatchScan.EnabledConf)
      val dvOff = timed("same join, face OFF (V1 DvKeep + shuffle)") {
        spark.sql(q).head()
      }
      require((0 until 3).forall(i => dvOff.getLong(i) == dvOn.getLong(i)),
        s"DV face/V1 divergence: $dvOn vs $dvOff")
      println(s"[tablebench] spj+dv A/B rows=${dvOn.getLong(0)}")

      // r18a: ROLLING TAKEDOWNS + SELF-HEALING FACE — each zero-scan
      // equality delete (deleteKeysMoR) used to gate the batch face out
      // table-wide until an operator ran OPTIMIZE ... MATERIALIZE
      // DELETES; the qualification-demand policy
      // (spark.graft.batchScan.autoMaterialize.maxRecords, on by
      // default) materializes the records at the NEXT face read, so the
      // production steady state of "takedown, query, takedown, query"
      // keeps the zero-shuffle zero-sort join every tick. The timed
      // figure is the whole loop: the commit, the planning-time
      // materialization, and the healed join.
      {
        spark.conf.set(graft.sources.GraftBatchScan.EnabledConf, "true")
        try {
          var expect = dvOn.getLong(0)
          val rounds = 3
          timed(s"$rounds x (deleteKeysMoR 2 keys + self-healed SPJ join)") {
            var r = 0
            while (r < rounds) {
              // live keys (never ≡ 0 mod 10007, which the scattered MoR
              // delete above already killed)
              graft.sources.Deletes.deleteKeysMoR(spark, rootF, "v",
                Seq(7L + r * 31L, 1009L + r * 97L))
              val row = spark.sql(q).head()
              expect -= 2
              require(row.getLong(0) == expect,
                s"self-healed join count wrong at round $r: " +
                  s"${row.getLong(0)} != $expect")
              r += 1
            }
          }
          // steady state after the loop: records resolved, face serving
          val dHeal = spark.sql(q)
          val healed = dHeal.head()
          require(healed.getLong(0) == expect)
          val planHeal = dHeal.queryExecution.executedPlan.toString
          require(planHeal.contains("BatchScan") &&
            !planHeal.contains("Exchange hashpartitioning") &&
            !planHeal.contains("Sort ["),
            s"the healed face must keep the zero-shuffle zero-sort " +
              s"join:\n${planHeal.take(1500)}")
          println(s"[tablebench] rolling-takedown self-heal rows=$expect")
        } finally {
          spark.conf.unset(graft.sources.GraftBatchScan.EnabledConf)
        }
      }

      // r17d: BUCKET-TRANSFORM SPJ — two tables hidden-partitioned
      // bucket(P, k) join ON THE SOURCE KEY k (the derived dir column
      // never appears in the query) with zero exchanges: the catalog's
      // FunctionCatalog face resolves the bucket transform and Spark
      // proves the hashed layouts co-partitioned. The classic bucketed
      // join, no bucket metastore.
      val rootH = Files.createTempDirectory("graft_tb_bkf").toString
      val rootI = Files.createTempDirectory("graft_tb_bkg").toString
      val bspec = graft.sources.HiddenPartitioning.Bucket(p, "k")
      timed(s"commit bucket($p,k) fact ($n) + dim (${n / 16})") {
        graft.sources.HiddenPartitioning.commitReplace(spark, rootH,
          clustered.select(col("v").as("k"), col("payload")), bspec)
        graft.sources.HiddenPartitioning.commitReplace(spark, rootI,
          spark.range(0, n, 16).select(col("id").as("k"),
            (col("id") * 3L).as("w")), bspec)
      }
      spark.conf.set("spark.graft.table.bkf", rootH)
      spark.conf.set("spark.graft.table.bkg", rootI)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val qb = "SELECT count(*) AS c, sum(f.k + g.w) AS s, " +
        "sum(length(f.payload)) AS b FROM graft.bkf f " +
        "JOIN graft.bkg g ON f.k = g.k"
      val bkOff = timed("co-bucketed source-key join, SPJ OFF") {
        spark.sql(qb).head()
      }
      spark.conf.set(graft.sources.GraftBatchScan.EnabledConf, "true")
      val dBk = spark.sql(qb)
      val bkOn = timed("co-bucketed source-key join, SPJ ON") {
        dBk.head()
      }
      val planBk = dBk.queryExecution.executedPlan.toString
      require(!planBk.contains("Exchange hashpartitioning"),
        s"the bucket-transform join must not shuffle:\n${planBk.take(1500)}")
      require((0 until 3).forall(i => bkOn.getLong(i) == bkOff.getLong(i)),
        s"bucket SPJ changed the answer: $bkOn vs $bkOff")
      println(s"[tablebench] bucket-spj A/B rows=${bkOn.getLong(0)}")

      // r18b: SORTED-BUCKET PROVENANCE — the bucket SPJ above still
      // paid two full SortExecs (rows within a bucket are not
      // source-key-ordered). One recluster per side sorts every bucket
      // directory by k and stamps generation-qualified provenance; the
      // bucket face then claims [k ASC] per coalesced split and the
      // same join plans zero-exchange AND zero-sort — the classic
      // sorted-bucketed merge join, verified not trusted. At 100 TB
      // the eliminated sorts are the join's dominant memory cost (sort
      // + spill of the whole fact, every query).
      timed("recluster both bucket tables on k (sort provenance)") {
        graft.sources.Compaction.recluster(spark, rootH, Seq("k"),
          filesPerDir = 2)
        graft.sources.Compaction.recluster(spark, rootI, Seq("k"),
          filesPerDir = 2)
      }
      val dBs = spark.sql(qb)
      val bkSorted = timed("co-bucketed join, sorted-bucket face") {
        dBs.head()
      }
      val planBs = dBs.queryExecution.executedPlan.toString
      require(!planBs.contains("Exchange hashpartitioning"),
        s"the sorted-bucket join must not shuffle:\n${planBs.take(1500)}")
      require(!planBs.contains("Sort ["),
        s"recluster's [k ASC] provenance must serve the bucketed join " +
          s"sort-free:\n${planBs.take(1500)}")
      require((0 until 3).forall(i => bkSorted.getLong(i) == bkOff.getLong(i)),
        s"sorted-bucket SPJ changed the answer: $bkSorted vs $bkOff")
      println(s"[tablebench] sorted-bucket-spj A/B rows=${bkSorted.getLong(0)}")

      // r18c: TIME-TRANSFORM SPJ — the most common event/log layout:
      // two tables hidden-partitioned days(ts) join ON THE RAW
      // TIMESTAMP (the derived ts_day column never appears in the
      // query) with zero exchanges, through the same FunctionCatalog
      // route as bucket. At 100 TB this is the recurring
      // events-to-events correlation join that otherwise shuffles both
      // sides every run.
      val rootT1 = Files.createTempDirectory("graft_tb_tts1").toString
      val rootT2 = Files.createTempDirectory("graft_tb_tts2").toString
      val dspec = graft.sources.HiddenPartitioning.Days("ts")
      val days = 64
      timed(s"commit days(ts) fact ($n) + dim (${n / 16})") {
        // 1704067200 = 2024-01-01T00:00:00Z; ids spread over `days` days
        graft.sources.HiddenPartitioning.commitReplace(spark, rootT1,
          spark.range(n).select(
            timestamp_seconds(lit(1704067200L) +
              col("id") % (days * 86400L)).as("ts"),
            col("id").as("v"), md5(col("id").cast("string")).as("payload")),
          dspec)
        graft.sources.HiddenPartitioning.commitReplace(spark, rootT2,
          spark.range(0, n, 16).select(
            timestamp_seconds(lit(1704067200L) +
              col("id") % (days * 86400L)).as("ts"),
            (col("id") * 3L).as("w")), dspec)
      }
      spark.conf.set("spark.graft.table.tts1", rootT1)
      spark.conf.set("spark.graft.table.tts2", rootT2)
      val qt = "SELECT count(*) AS c, sum(f.v + g.w) AS s, " +
        "sum(length(f.payload)) AS b FROM graft.tts1 f " +
        "JOIN graft.tts2 g ON f.ts = g.ts"
      spark.conf.unset(graft.sources.GraftBatchScan.EnabledConf)
      val ttOff = timed("co-days-partitioned ts join, SPJ OFF") {
        spark.sql(qt).head()
      }
      spark.conf.set(graft.sources.GraftBatchScan.EnabledConf, "true")
      val dTt = spark.sql(qt)
      val ttOn = timed("co-days-partitioned ts join, SPJ ON") {
        dTt.head()
      }
      val planTt = dTt.queryExecution.executedPlan.toString
      require(!planTt.contains("Exchange hashpartitioning"),
        s"the days-transform join must not shuffle:\n${planTt.take(1500)}")
      require((0 until 3).forall(i => ttOn.getLong(i) == ttOff.getLong(i)),
        s"days SPJ changed the answer: $ttOn vs $ttOff")
      println(s"[tablebench] days-spj A/B rows=${ttOn.getLong(0)}")

      // r18d: SORTED-DAYS — event-time sidecars (r18) make recluster
      // provenance on ts verifiable, so after one recluster per side
      // the days faces claim [ts ASC] and the same timestamp join
      // plans zero-exchange AND zero-sort (the sorted-bucket win on
      // the time layout — the shape every event-correlation join has)
      timed("recluster both days tables on ts (sort provenance)") {
        graft.sources.Compaction.recluster(spark, rootT1, Seq("ts"),
          filesPerDir = 2)
        graft.sources.Compaction.recluster(spark, rootT2, Seq("ts"),
          filesPerDir = 2)
      }
      val dTs = spark.sql(qt)
      val ttSorted = timed("co-days ts join, sorted-days face") {
        dTs.head()
      }
      val planTs = dTs.queryExecution.executedPlan.toString
      require(!planTs.contains("Exchange hashpartitioning"),
        s"the sorted-days join must not shuffle:\n${planTs.take(1500)}")
      require(!planTs.contains("Sort ["),
        s"recluster's [ts ASC] provenance must serve the days join " +
          s"sort-free:\n${planTs.take(1500)}")
      require((0 until 3).forall(i => ttSorted.getLong(i) == ttOff.getLong(i)),
        s"sorted-days SPJ changed the answer: $ttSorted vs $ttOff")
      println(s"[tablebench] sorted-days-spj A/B rows=${ttSorted.getLong(0)}")
      spark.conf.unset("spark.graft.table.tts1")
      spark.conf.unset("spark.graft.table.tts2")
      spark.conf.unset("spark.graft.table.bkf")
      spark.conf.unset("spark.graft.table.bkg")
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    spark.stop()
  }

  /** SPJ UNDER SKEW (the realistic zipfian fact): HALF the table under
    * ONE hot key written as many files, the rest uniform over P-1 keys.
    * Prices the join three ways — plain shuffle (face off), coalesced
    * SPJ (the hot key's files fold into ONE split, so one task owns
    * half the table), and partially-clustered distribution (Spark keeps
    * the hot key's splits separate and replicates the dim side to
    * spread them over tasks). The question the probe answers: does the
    * hot-key-serializes cost of the coalesced face exceed what the
    * eliminated exchange saved — i.e., where is the cliff, and does PCD
    * recover it without giving the shuffle back.
    *
    * Usage: runMain graft.TableBench skew [N] [P]
    */
  private def skewProbe(n: Long, p: Int): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.range(1000000).selectExpr("sum(id)").collect()
    def timed[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime(); val a = body
      println(f"[tablebench] skew $label%-44s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      a
    }
    val rootF = Files.createTempDirectory("graft_tb_skf").toString
    val rootD = Files.createTempDirectory("graft_tb_skd").toString
    val fact = spark.range(n).select(
      when(col("id") % 2 === 0, "hot0000")
        .otherwise(format_string("p%04d",
          (pmod(xxhash64(col("id")), lit(p - 1)) + 1).cast("int"))).as("pk"),
      col("id").as("v"), md5(col("id").cast("string")).as("payload"))
    timed(s"setup: skewed fact ($n rows, $p keys, 50% hot)") {
      // many files under the hot key: the split-level shape PCD spreads
      AtomicCommit.commitReplacePartitions(spark, rootF, fact, "pk",
        filesPerDir = 16)
    }
    val dim = spark.range(p).select(
      when(col("id") === 0, "hot0000")
        .otherwise(format_string("p%04d", col("id").cast("int"))).as("pk"),
      concat(lit("name-"), col("id")).as("name"))
    AtomicCommit.commitReplacePartitions(spark, rootD, dim, "pk")
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.graft.table.skf", rootF)
    spark.conf.set("spark.graft.table.skd", rootD)
    val q = "SELECT count(*), sum(length(f.payload) + length(d.name)) " +
      "FROM graft.skf f JOIN graft.skd d ON f.pk = d.pk"
    def run(): org.apache.spark.sql.Row = spark.sql(q).head()
    val spjConfs = Seq(
      graft.sources.GraftBatchScan.EnabledConf -> "true",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val pcdConf =
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled"
    def withConfs[A](pairs: Seq[(String, String)])(body: => A): A = {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally pairs.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val base = withConfs(Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val r = timed("plain shuffle join (face off)")(run())
      timed("plain shuffle join (2nd)")(run()); r
    }
    val co = withConfs(spjConfs) {
      val r = timed("coalesced SPJ (hot key = 1 task)")(run())
      timed("coalesced SPJ (2nd)")(run()); r
    }
    require(co == base, s"coalesced SPJ answer drifted: $co vs $base")
    val pcd = withConfs(spjConfs :+ (pcdConf -> "true")) {
      val r = timed("partially-clustered SPJ (hot key spread)")(run())
      timed("partially-clustered SPJ (2nd)")(run()); r
    }
    require(pcd == base, s"PCD answer drifted: $pcd vs $base")
    println(s"[tablebench] skew rows=${base.getLong(0)}")
    spark.conf.unset("spark.graft.table.skf")
    spark.conf.unset("spark.graft.table.skd")
    spark.stop()
  }

  /** The PARTITION-COUNT axis of metadata scaling: every other probe in
    * this file runs at ≤400 partitions, but at 100 TB a natural layout
    * is 10⁴–10⁶ partitions — and the places planning is O(partitions)
    * are all DRIVER-side: the single-JSON manifest parse, the
    * per-generation stats-sidecar first touch, [[TableStats
    * .partitionBytes]]' per-partition directory walk, and DESCRIBE
    * DETAIL's live-file walk. This mode builds an N-row table over P
    * partition values and splits COLD-vs-WARM planning cost along
    * exactly those seams, plus the end-to-end reads the costs feed
    * (pruned 1-partition read, unpruned planning, batch-face
    * qualification) and a 1-partition append's conflict check.
    *
    * Usage: runMain graft.TableBench meta [N] [P]
    * (BASELINE.md records the curve at P = 200 / 5,000 / 50,000.)
    */
  private def metaProbe(n: Long, p: Int): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.range(1000000).selectExpr("sum(id)").collect()

    def timedMs[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime(); val a = body
      println(f"[tablebench] meta p=$p%-6d $label%-42s " +
        f"${(System.nanoTime() - t0) / 1e6}%9.1f ms")
      a
    }
    val root = Files.createTempDirectory(s"graft_tb_meta_$p").toString
    // partition k owns n/p contiguous rows; repartition by key so each
    // write task touches few directories
    val df = spark.range(n).select(
      format_string("p%05d", (col("id") % p).cast("int")).as("pk"),
      col("id").as("v"), md5(col("id").cast("string")).as("payload"))
      .repartition(col("pk"))
    timedMs(s"setup: commitWithStats ($n rows)") {
      DataSkipping.commitWithStats(spark, root, df, "pk", Seq("v"))
    }
    val store = new graft.sources.PosixManifestStore(root)
    val manifestBytes = store.get(f"_graft_manifest.v${1L}%08d.json")
      .map(_.length).getOrElse(-1)
    println(s"[tablebench] meta p=$p manifest bytes: $manifestBytes")

    // 1. manifest resolve+parse — paid on EVERY planning (snapshots
    // re-resolve per query); no cache exists by design
    var m = timedMs("manifest resolve+parse (per-planning)") {
      AtomicCommit.readManifest(store).get
    }
    m = timedMs("manifest resolve+parse (2nd, still parses)") {
      AtomicCommit.readManifest(store).get
    }
    require(m.entries.size == p, s"expected $p entries, got ${m.entries.size}")

    // 2. partitionBytes: cold = a directory-size walk per partition;
    // warm = the per-snapshot cache
    timedMs("partitionBytes COLD (dir walk x P)") {
      graft.sources.TableStats.sizeInBytes(root, m)
    }
    timedMs("partitionBytes WARM (snapshot cache)") {
      graft.sources.TableStats.sizeInBytes(root, m)
    }

    // 3. column statistics: cold = the generation sidecar's first touch
    // (O(partitions) records parsed); warm = per-snapshot cache
    val allParts = m.entries.keySet
    timedMs("columnStats(v) COLD (sidecar parse)") {
      graft.sources.TableStats.columnStats(root, m, "v", allParts)
    }
    timedMs("columnStats(v) WARM") {
      graft.sources.TableStats.columnStats(root, m, "v", allParts)
    }

    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.graft.table.metap", root)

    // 4. pruned read: 1 of P partitions, end-to-end (planning still
    // parses the manifest and prunes over all P entries)
    val rowsPer = n / p
    val pruned = timedMs("pruned read 1 partition (plan+exec)") {
      spark.sql("SELECT count(*), sum(v) FROM graft.metap " +
        "WHERE pk = 'p00007'").head()
    }
    require(pruned.getLong(0) == rowsPer ||
      pruned.getLong(0) == rowsPer + (if (7 < n % p) 1 else 0),
      s"pruned read wrong: $pruned")
    timedMs("pruned read 1 partition (2nd)") {
      spark.sql("SELECT count(*), sum(v) FROM graft.metap " +
        "WHERE pk = 'p00019'").head()
    }

    // 5. unpruned PLANNING only (no execution): what a full-table query
    // pays the driver before the first task launches
    timedMs("unpruned planning (executedPlan, no run)") {
      spark.sql("SELECT sum(length(payload)) FROM graft.metap")
        .queryExecution.executedPlan
    }

    // 6. batch-face qualification: the gate walk (mapping state, footer
    // probe, delete evidence) that decides SPJ eligibility
    val relation = new graft.sources.GraftRelation(spark, root, store, None)
    val schema = relation.schema
    spark.conf.set(graft.sources.GraftBatchScan.EnabledConf, "true")
    timedMs("face qualification COLD") {
      require(graft.sources.GraftBatchScan
        .eligibleScan(relation, schema,
          Array.empty[org.apache.spark.sql.sources.Filter]).nonEmpty,
        "the clean snapshot must qualify")
    }
    timedMs("face qualification WARM") {
      graft.sources.GraftBatchScan.eligibleScan(relation, schema,
        Array.empty[org.apache.spark.sql.sources.Filter])
    }
    spark.conf.unset(graft.sources.GraftBatchScan.EnabledConf)

    // 7. append commit touching 1 partition: staging is O(batch), but
    // publish renders the FULL manifest and re-checks conflicts
    timedMs("append-commit 1 partition (5 rows)") {
      AtomicCommit.commitAppendPartitions(spark, root,
        spark.range(5).select(lit("p00007").as("pk"),
          (col("id") + n).as("v"),
          md5(col("id").cast("string")).as("payload")), "pk")
    }

    // 8. DESCRIBE DETAIL: the operator surface's own live-file walk
    timedMs("DESCRIBE DETAIL") {
      spark.sql("DESCRIBE DETAIL graft.metap").collect()
    }

    spark.conf.unset("spark.graft.table.metap")
    spark.stop()
  }
}
