package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Manifest-based two-phase commit over plain parquet — the atomic
  * multi-partition publish [[IncrementalUpsert]] and [[Compaction]]
  * document as their open crash window. Their dynamic-partition-overwrite
  * commit replaces touched partitions one rename at a time, so a crash
  * mid-commit exposes a half-refreshed snapshot. Here the snapshot IS a
  * manifest, and a commit is ONE atomic storage operation:
  *
  *   - Data layout: every commit writes its rows (partitioned by the
  *     table's partition column) under a fresh generation directory
  *     `root/g…_<uuid>/<col>=<value>/…`. Generations are IMMUTABLE — a
  *     writer never touches a directory a reader could hold.
  *   - The snapshot at version N is the manifest object
  *     `_graft_manifest.v<N>.json`, mapping each live partition VALUE to
  *     the generation directory that owns it. Readers resolve the HIGHEST
  *     version present (driver-side, O(#partitions) — the same metadata
  *     scale as a table format's snapshot file) and scan only owned dirs.
  *   - Publish = atomic create-if-absent of version N+1's manifest via
  *     [[ManifestStore.putIfAbsent]] — create-if-absent on a versioned
  *     name IS a compare-and-swap: of two racing writers exactly ONE wins
  *     the version; the loser re-reads the new current manifest, re-merges
  *     its (already-written, still-invisible) generation, and retries at
  *     N+2. This is the optimistic-concurrency commit protocol of the
  *     table formats (Iceberg's metadata swap), on plain-parquet
  *     primitives. A crash BEFORE the put leaves the old snapshot fully
  *     intact (unreferenced directories are invisible); a crash AFTER is a
  *     completed commit. No in-between exists.
  *   - Serializable isolation via a READ-SET check: every stage records
  *     the manifest version it observed and the then-current owner of each
  *     partition it replaces. On publish, if ANY intervening committed
  *     version changed an overlapping partition's owner, the commit aborts
  *     with [[PartitionConflictException]] instead of silently overwriting
  *     the concurrent writer's rows (the lost-update the last-wins version
  *     ordering would otherwise permit). Writers on DISJOINT partitions
  *     still serialize through the version CAS and both land.
  *   - Manifests are immutable and generations append-only, so every
  *     version still on disk is a readable snapshot: [[readAt]] is
  *     `VERSION AS OF` time travel for free, with [[vacuum]] retention as
  *     the history horizon.
  *   - Superseded generations stay on disk (snapshot-isolated readers may
  *     still be scanning them) until [[vacuum]] drops directories the
  *     current manifest no longer references, along with stale manifest
  *     versions and orphaned temp files. A generation referenced by NO
  *     manifest at all is indistinguishable from another writer's staged-
  *     but-unpublished phase-1 output, so vacuum only removes those past an
  *     mtime retention threshold (Iceberg's orphan-file rule), and
  *     [[publish]] re-verifies its generation directory still exists before
  *     the put — a vacuumed-away stage fails loudly, never commits a
  *     manifest pointing at deleted data.
  *
  * Storage portability: the protocol's only atomic primitive is
  * [[ManifestStore.putIfAbsent]]. Every method takes a root-only form
  * (manifests beside the data through [[PosixManifestStore]]'s hard-link
  * create-if-absent — the POSIX/HDFS deployment) and a `store` form for
  * any backend exposing a conditional put (S3 `If-None-Match: *`, GCS
  * `ifGenerationMatch=0`); [[InMemoryObjectStore]] models that contract
  * exactly and the spec runs the full protocol against it. Data files
  * never need the primitive — generations are write-once.
  */
object AtomicCommit {

  private val ManifestPrefix = "_graft_manifest.v"
  private val ManifestSuffix = ".json"
  /** CAS losers retry against the refreshed manifest; the bound only guards
    * against a livelocking pathological writer storm. */
  val MaxPublishRetries = 64

  private def posix(root: String): ManifestStore = new PosixManifestStore(root)

  /** `entries` maps each live partition VALUE to its OWNER LIST — one or
    * more generation directories, comma-joined (generation names are
    * `g<hex>`, comma-free by construction). A single owner is the replace
    * layout; multiple owners are APPENDS ([[commitAppendPartitions]]):
    * the partition's rows are the union of its slice of every owning
    * generation, in list order. This is the Iceberg append model — an
    * append commits O(batch) bytes and a manifest edit, never a rewrite
    * of the partition it lands in; [[Compaction.compactAtomicTable]]
    * folds long owner lists back to one.
    *
    * `props` is durable commit metadata riding the snapshot swap:
    * whatever key→value pairs a commit attaches become visible atomically
    * WITH its data and are carried forward by later commits (new keys
    * win). [[AtomicStreamSink]] uses this for its exactly-once batch
    * watermark — the same mechanism as Delta's `txn` action.
    */
  final case class Manifest(version: Long, partitionCol: String,
                            entries: Map[String, String],
                            props: Map[String, String] = Map.empty) {

    /** Content fingerprint of the ENTRY MAP (plus partition column):
      * the O(1)-to-hash stand-in for keying snapshot-scoped caches by
      * `entries` itself, whose Map hashCode is O(partitions) PER LOOKUP
      * (Scala collections don't cache it — measured 71 ms per warm
      * [[TableStats.partitionBytes]] call at 200k partitions). Computed
      * once per parsed instance — [[AtomicCommit.parseJson]] memoizes by
      * manifest text, so repeated plannings of one snapshot share the
      * instance and the fingerprint. Deliberately EXCLUDES version and
      * props: two manifests with identical entries share caches keyed by
      * it (a metadata-only commit must not invalidate byte/row caches),
      * exactly the sharing the old entries-valued keys had.
      */
    @transient lazy val entriesDigest: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(partitionCol.getBytes(StandardCharsets.UTF_8))
      entries.toSeq.sortBy(_._1).foreach { case (k, v) =>
        md.update(0.toByte)
        md.update(k.getBytes(StandardCharsets.UTF_8))
        md.update(1.toByte)
        md.update(v.getBytes(StandardCharsets.UTF_8))
      }
      md.digest().map("%02x".format(_)).mkString
    }

    /** Whether ANY entry carries a deletion-vector token — the
      * qualification gate's first question, asked once per instance
      * instead of one [[dvOf]] parse per entry per planning.
      */
    @transient lazy val hasVectors: Boolean =
      entries.valuesIterator.exists(e => dvOf(e).nonEmpty)

    /** The snapshot's distinct DATA owner generations, sorted — the
      * O(generations) identity several per-planning sites previously
      * re-derived with an O(partitions) flatMap+distinct per call.
      */
    @transient lazy val ownerGens: Seq[String] =
      entries.valuesIterator.flatMap(ownersOf).toSeq.distinct.sorted
  }

  /** Decode an entry's comma-joined owner list — DATA owners only. An
    * entry may additionally carry ONE deletion-vector token (`~<gen>`,
    * rendered last): the generation holding the partition's merge-on-read
    * delete addresses ([[Deletes.deleteWhereMoR]]). Every reader of data
    * directories wants this view; [[dvOf]] reads the vector, [[allGensOf]]
    * is the union for liveness decisions (vacuum, rollback).
    */
  def ownersOf(entry: String): Seq[String] =
    entry.split(',').toSeq.filter(t => t.nonEmpty && !t.startsWith("~"))

  /** The entry's deletion-vector generation, if a merge-on-read delete
    * has marked rows of this partition since its last rewrite.
    */
  def dvOf(entry: String): Option[String] =
    entry.split(',').toSeq.find(_.startsWith("~")).map(_.stripPrefix("~"))

  /** Every generation the entry references — data owners plus the
    * deletion vector: the set that must stay on disk for the entry to
    * remain readable. Vacuum liveness and rollback feasibility use THIS,
    * never [[ownersOf]] (a vacuum blind to DV generations would delete
    * the evidence that rows are gone — resurrecting them).
    */
  def allGensOf(entry: String): Seq[String] =
    entry.split(',').toSeq.filter(_.nonEmpty).map(_.stripPrefix("~"))

  private[sources] def renderEntry(owners: Seq[String],
                                   dv: Option[String]): String =
    (owners ++ dv.map("~" + _)).mkString(",")

  /** A written-but-unpublished generation: the phase-1 output. Invisible
    * to every reader until [[publish]] puts a manifest referencing it.
    * `baseVersion`/`baseOwners` are the commit's READ SET — the manifest
    * version observed at stage time and the generation then owning each
    * staged partition (absent = partition did not exist) — which [[publish]]
    * checks for serializable-isolation conflicts. `props` entries are
    * merged into the published manifest's props atomically with the flip.
    * `drops` are partition values the commit REMOVES from the manifest
    * (a row-level delete that empties a partition) — they join the
    * read-set, so their `baseOwners` entries must be recorded too.
    * `enforced` records the CHECK-constraint rule set validated at stage
    * time (None = the commit stages no rows, nothing to validate);
    * `overrides` replaces the default `partition -> gen` entry mapping
    * with explicit entry strings — the merge-on-read delete path, whose
    * commit edits entries (appending a deletion-vector token) without the
    * staged generation owning data.
    */
  final case class Staged(gen: String, partitionCol: String,
                          partitions: Seq[String], baseVersion: Long,
                          baseOwners: Map[String, String],
                          props: Map[String, String] = Map.empty,
                          drops: Seq[String] = Nil,
                          propDrops: Seq[String] = Nil,
                          enforced: Option[Map[String, String]] = None,
                          overrides: Map[String, String] = Map.empty)

  final class VersionConflictException(msg: String) extends RuntimeException(msg)

  /** A concurrent committed writer replaced a partition this commit also
    * replaces — last-wins would silently drop its rows, so the commit
    * aborts instead (the standard optimistic-concurrency validation
    * failure). The caller re-reads the current snapshot, re-merges, and
    * re-stages.
    */
  final class PartitionConflictException(msg: String) extends RuntimeException(msg)

  /** Two-phase commit: stage `df` as a new generation, then CAS-publish a
    * manifest where the partitions PRESENT IN `df` point at the new
    * generation and all others keep their current owner (the
    * replace-partitions semantic of dynamic overwrite, made atomic).
    * Returns the published version.
    */
  def commitReplacePartitions(spark: SparkSession, root: String,
                              df: DataFrame, partitionCol: String,
                              filesPerDir: Int = 1): Long =
    commitReplacePartitions(spark, root, posix(root), df, partitionCol,
      filesPerDir)

  /** [[commitReplacePartitions]] with the manifest CAS running against an
    * explicit [[ManifestStore]] (object-store deployments).
    */
  def commitReplacePartitions(spark: SparkSession, root: String,
                              store: ManifestStore, df: DataFrame,
                              partitionCol: String, filesPerDir: Int): Long =
    publish(root, store, stage(spark, root, store, df, partitionCol, filesPerDir))

  /** Phase 1 (exposed for the crash-window spec): write the generation
    * directory. No manifest is touched; a crash after this leaves only an
    * unreferenced directory for [[vacuum]]'s orphan aging. `filesPerDir`
    * spreads each partition directory across that many writing tasks (a
    * deterministic content-hash salt — [[Compaction]]'s split, owned here
    * so the write keyed by it is the one that actually lands on disk).
    */
  def stage(spark: SparkSession, root: String, df: DataFrame,
            partitionCol: String, filesPerDir: Int = 1): Staged =
    stage(spark, root, posix(root), df, partitionCol, filesPerDir)

  def stage(spark: SparkSession, root: String, store: ManifestStore,
            df: DataFrame, partitionCol: String, filesPerDir: Int): Staged =
    stage(spark, root, store, df, partitionCol, filesPerDir, None)

  /** `base` is the READ-SET ANCHOR: the manifest the commit's input data
    * was read from. A read-modify-write commit (delete, merge, compaction)
    * MUST pass the manifest its scan resolved — anchoring the read set at
    * a fresh `readManifest` here instead would let a concurrent commit
    * that landed between the data read and this stage be recorded as the
    * base owner, and [[publish]]'s conflict check would then wave through
    * the exact lost update it exists to prevent (the window spans the
    * whole matching scan, so it is wide at scale). `None` means the
    * commit's input is independent of table state (blind replace/append) —
    * only then is observing the freshest manifest correct.
    */
  def stage(spark: SparkSession, root: String, store: ManifestStore,
            df: DataFrame, partitionCol: String, filesPerDir: Int,
            base: Option[Manifest]): Staged = {
    require(filesPerDir >= 1, s"filesPerDir=$filesPerDir")
    val prev = base.orElse(readManifest(store))
    require(prev.forall(_.partitionCol == partitionCol),
      s"table at $root is partitioned by ${prev.get.partitionCol}, not $partitionCol")
    Files.createDirectories(Paths.get(root))
    val gen = s"g${java.util.UUID.randomUUID.toString.take(12)}"
    val keyed =
      if (filesPerDir == 1) df.repartition(col(partitionCol))
      // explicit numPartitions: AQE's small-partition coalescing would
      // otherwise merge the salted splits back into one writing task,
      // silently undoing the file-count layout the caller asked for
      else df.repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions,
        col(partitionCol),
        pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(filesPerDir)))
    keyed.write.mode("error").partitionBy(partitionCol)
      .parquet(s"$root/$gen")
    val staged = stagedFromDisk(root, gen, partitionCol, prev)
    staged.copy(enforced = Some(enforceConstraints(spark, root, staged, prev)))
  }

  /** Stage `df` PRESERVING its partitioning and sort order: the rows land
    * on disk exactly as the caller laid them out (one file per task per
    * partition value), where [[stage]] re-keys by partition (+ salt).
    * [[Compaction.recluster]]'s write path — a sort-ordered rewrite is
    * only worth its shuffle if the write doesn't scramble it again.
    */
  def stageKeyed(spark: SparkSession, root: String, store: ManifestStore,
                 df: DataFrame, partitionCol: String,
                 base: Option[Manifest]): Staged = {
    val prev = base.orElse(readManifest(store))
    require(prev.forall(_.partitionCol == partitionCol),
      s"table at $root is partitioned by ${prev.get.partitionCol}, not $partitionCol")
    Files.createDirectories(Paths.get(root))
    val gen = s"g${java.util.UUID.randomUUID.toString.take(12)}"
    df.write.mode("error").partitionBy(partitionCol).parquet(s"$root/$gen")
    val staged = stagedFromDisk(root, gen, partitionCol, prev)
    staged.copy(enforced = Some(enforceConstraints(spark, root, staged, prev)))
  }

  private def stagedFromDisk(root: String, gen: String, partitionCol: String,
                             prev: Option[Manifest]): Staged = {
    val parts = partitionDirs(Paths.get(root, gen), partitionCol)
    // an empty commit would publish a manifest no read can serve (and, as
    // the FIRST commit, a table with no schema source) — reject at the
    // stage boundary, where the writer still has its DataFrame in hand
    require(parts.nonEmpty,
      s"staging produced no partition directories at $root/$gen — refusing " +
        "to commit an empty replace (filter upstream, or skip the commit)")
    // the generation's FILE INDEX, from the walk the stage just paid:
    // readers plan file sets from metadata instead of listing each
    // partition directory per query
    DataSkipping.writeFileIndex(root, gen, partitionCol)
    Staged(gen, partitionCol, parts,
      prev.map(_.version).getOrElse(0L),
      prev.map(_.entries.filter { case (p, _) => parts.contains(p) })
        .getOrElse(Map.empty))
  }

  /** Phase 2: optimistic-concurrency publish. Merges `staged` over the
    * CURRENT manifest and attempts the create-if-absent CAS at version+1;
    * on a lost race, re-reads and retries (the staged generation directory
    * never needs rewriting). Validation on every attempt, BEFORE the put:
    *
    *  - READ-SET check: if any intervening committed version changed the
    *    owner of a partition in `staged.partitions` since stage time,
    *    throws [[PartitionConflictException]] — aborting beats silently
    *    overwriting the concurrent writer's rows. Disjoint-partition
    *    writers pass (their owners are untouched) and serialize by version.
    *  - The staged generation directory must still exist (a misconfigured
    *    [[vacuum]] could have aged it out) — publishing a manifest that
    *    points at deleted data is the one corruption worse than aborting.
    *
    * Throws [[VersionConflictException]] only past [[MaxPublishRetries]]
    * consecutive lost races.
    */
  def publish(root: String, staged: Staged): Long =
    publish(root, posix(root), staged)

  def publish(root: String, store: ManifestStore, staged: Staged): Long =
    casLoop(root, store, staged, append = false, Set.empty).get

  /** [[publish]] for EXACTLY-ONCE writers: every key in `monotonicKeys`
    * that `staged.props` carries must STRICTLY ADVANCE the current
    * manifest's value (compared as Long). If the current manifest already
    * covers a staged value, the commit is skipped and None returned — the
    * zombie-replay no-op. The check runs against the SAME manifest snapshot
    * each CAS attempt validates and swaps against, so "has this batch
    * already committed?" is decided atomically with the commit itself:
    * two writers replaying one batchId (a failed-over driver's zombie
    * racing its replacement — the scenario Delta's `txn` check guards)
    * cannot both pass, because whichever loses the CAS re-reads a manifest
    * where the winner's watermark already covers the batch. A pre-check
    * before staging remains a useful fast path but is NOT the guarantee.
    */
  def publishIfNew(root: String, store: ManifestStore, staged: Staged,
                   monotonicKeys: Set[String]): Option[Long] =
    casLoop(root, store, staged, append = false, monotonicKeys)

  private def casLoop(root: String, store: ManifestStore, staged: Staged,
                      append: Boolean,
                      monotonicKeys: Set[String],
                      guardVersion: Option[Long] = None): Option[Long] = {
    // the hand-rolled parser bounds the flat props blob by braces — a
    // brace inside a key/value would corrupt every later read of the
    // table, so reject it at the commit boundary
    staged.props.foreach { case (k, v) =>
      require(!(k + v).exists(c => c == '{' || c == '}'),
        s"manifest props must not contain braces: $k -> $v")
    }
    if (append) require(staged.drops.isEmpty, "an append cannot drop partitions")
    var attempt = 0
    while (attempt < MaxPublishRetries) {
      // writers HELP any in-flight multi-table transaction blocking the
      // head: a decided one is finalized, an undecided one force-aborted
      // after its grace ([[Transactions.resolveWrite]]) — single-table
      // traffic never blocks behind a crashed coordinator
      val prev = readManifestRaw(store) match {
        case Some(m) if Transactions.isPending(m) =>
          Transactions.resolveWrite(root, store, m)
        case other => other
      }
      require(prev.forall(_.partitionCol == staged.partitionCol),
        s"table at $root is partitioned by ${prev.get.partitionCol}, not ${staged.partitionCol}")
      // a version-guarded commit (manifest-derived props values —
      // [[ddlRetry]]) never retry-merges: any movement past the guarded
      // version means the staged VALUES are stale, so abort to the
      // caller's recompute loop instead
      guardVersion.foreach { v =>
        if (!prev.map(_.version).contains(v))
          throw new PartitionConflictException(
            s"$root moved past v$v before this DDL's publish — " +
              "recompute and retry")
      }
      // exactly-once guard FIRST: a covered watermark means the batch is
      // already durable — nothing below may run, least of all the CAS
      val covered = monotonicKeys.exists { k =>
        staged.props.get(k).exists(v =>
          prev.flatMap(_.props.get(k)).exists(_.toLong >= v.toLong))
      }
      if (covered) return None
      // constraint-change conflict: the rules enforced at stage time must
      // still be THE rules — an addConstraint/dropConstraint landing in
      // the stage-to-publish window means these staged rows were validated
      // against a rule set no longer in force, so the commit aborts and
      // the caller re-stages under the fresh rules (appends included:
      // they add rows too). Props-only and drop-only commits stage no
      // rows (`enforced = None`) and are exempt — which is also what lets
      // addConstraint itself commit.
      staged.enforced.foreach { rules =>
        val now = prev.map(_.props.collect {
          case (k, v) if k.startsWith(ConstraintPrefix) =>
            k.stripPrefix(ConstraintPrefix) -> v
        }).getOrElse(Map.empty[String, String])
        if (now != rules)
          throw new PartitionConflictException(
            s"constraints of $root changed after this commit staged " +
              s"(enforced: ${rules.keys.toSeq.sorted.mkString(", ")}; " +
              s"current: ${now.keys.toSeq.sorted.mkString(", ")}) — " +
              "re-stage so the new rules validate the rows")
      }
      if (!append) {
        val conflicts = (staged.partitions ++ staged.drops).filter { p =>
          prev.flatMap(_.entries.get(p)) != staged.baseOwners.get(p)
        }
        if (conflicts.nonEmpty)
          throw new PartitionConflictException(
            s"partitions ${conflicts.mkString(", ")} were replaced by a " +
              s"concurrent commit after this one staged against version " +
              s"${staged.baseVersion} of $root — re-read, re-merge, re-stage")
      }
      // a drop-only commit stages no generation (partitions empty, gen "")
      if (staged.partitions.nonEmpty &&
        !Files.isDirectory(Paths.get(root, staged.gen)))
        throw new IllegalStateException(
          s"staged generation ${staged.gen} no longer exists at $root " +
            "(vacuumed before publish?) — the commit cannot proceed")
      val prevEntries = prev.map(_.entries).getOrElse(Map.empty)
      val nextEntries =
        if (append)
          // the deletion vector (if any) survives an append: it addresses
          // rows by (file, position) in EXISTING files, which the new
          // generation's files never collide with
          prevEntries ++ staged.partitions.map { p =>
            val prevE = prevEntries.getOrElse(p, "")
            p -> renderEntry(ownersOf(prevE) :+ staged.gen, dvOf(prevE))
          }
        else prevEntries ++ (
          if (staged.overrides.nonEmpty) staged.overrides
          else staged.partitions.map(_ -> staged.gen).toMap) --
          staged.drops
      val v = prev.map(_.version + 1).getOrElse(1L)
      val next = Manifest(
        v,
        staged.partitionCol, nextEntries,
        // graft.txn.* props describe ONE specific version (a pending or
        // revert manifest), never the lineage — committing on top always
        // strips them, unless this commit IS a transaction prepare
        // re-asserting its own markers via staged.props.
        // [[VersionValueSentinel]] values resolve HERE, per attempt: a
        // staged prop cannot know its landed version up front (a lost
        // CAS re-merges and retries at a higher one), so naming-the-
        // version props would otherwise name another writer's commit.
        // Only keys THIS commit staged resolve — a carried-over prop
        // whose value happens to be the literal sentinel string (a user
        // TBLPROPERTY) is preserved verbatim, never rewritten
        stampWhen(prev.map(_.props),
          (prev.map(_.props.filterNot(_._1.startsWith(Transactions.TxnPrefix)))
            .getOrElse(Map.empty) ++ staged.props -- staged.propDrops)
            .map { case (k, value) =>
              k -> (if (value == VersionValueSentinel &&
                staged.props.contains(k)) v.toString else value)
            }))
      require(next.entries.nonEmpty,
        s"commit would leave $root with zero partitions — an empty table " +
          "has no manifest form; drop the table directory instead")
      // atomic create-if-absent of the fully-rendered body: readers can
      // never observe a partial manifest, and an occupied version is the
      // CAS failure signal — refresh and retry
      if (store.putIfAbsent(manifestName(next.version),
        renderJson(next).getBytes(StandardCharsets.UTF_8)))
        return Some(next.version)
      attempt += 1
    }
    throw new VersionConflictException(
      s"lost the manifest CAS $MaxPublishRetries times at $root — writer storm?")
  }

  /** APPEND commit: stage `df` as a new generation and publish a manifest
    * where each staged partition's owner list GROWS by the new generation
    * — existing rows are never read, never rewritten, never dropped. The
    * O(batch) write path streaming ingest needs: cost is the batch's own
    * bytes plus one manifest edit, however large the partitions it lands
    * in have grown. Appends COMMUTE, so there is no read-set conflict to
    * check — two racing appends to the same partition both land (the CAS
    * loser re-reads and re-merges its generation onto the winner's owner
    * list), and a replace racing an append still aborts THE REPLACE via
    * its read-set check (the owner string changed), never losing the
    * appended rows. Owner lists grow until
    * [[Compaction.compactAtomicTable]] folds them; readers pay one scan
    * branch per owner, the usual small-files pressure compaction exists
    * to relieve.
    */
  def commitAppendPartitions(spark: SparkSession, root: String,
                             df: DataFrame, partitionCol: String,
                             filesPerDir: Int = 1): Long = {
    val s = stage(spark, root, df, partitionCol, filesPerDir)
    publishAppend(root, posix(root), s)
  }

  def commitAppendPartitions(spark: SparkSession, root: String,
                             store: ManifestStore, df: DataFrame,
                             partitionCol: String, filesPerDir: Int): Long =
    publishAppend(root, store, stage(spark, root, store, df, partitionCol,
      filesPerDir))

  /** PARTITION EVOLUTION (rewrite form): re-key the whole table under a
    * DIFFERENT partition column — the repair for "we partitioned by
    * ingest batch and every query filters by language". The manifest
    * format already carries `partitionCol` PER VERSION, so the evolution
    * is one full-snapshot rewrite commit: old versions keep reading (and
    * time-travelling) under the old column, the new version and
    * everything after it under the new one, and vacuum/retention work
    * unchanged. The old partition column becomes an ordinary data column
    * of the new layout (it was always part of the rows); the new column
    * must already exist in the data — evolution re-keys facts, it cannot
    * invent them.
    *
    * Concurrency: a full rewrite's read set is the WHOLE table, so
    * [[publishRewrite]] aborts with [[PartitionConflictException]] if ANY
    * commit landed after the staged base version — there is no narrower
    * sound rule when every partition is replaced and the key space
    * changes. Run it like compaction: retry on conflict.
    *
    * Two-phase like everything else: [[stageRepartition]] writes the
    * re-keyed generation (annotate stats on it between the phases if
    * wanted), [[publishRewrite]] swaps. [[commitRepartition]] is the
    * one-call form.
    */
  def commitRepartition(spark: SparkSession, root: String,
                        newPartitionCol: String, filesPerDir: Int = 1): Long = {
    val store = posix(root)
    publishRewrite(root, store,
      stageRepartition(spark, root, store, newPartitionCol, filesPerDir))
  }

  def stageRepartition(spark: SparkSession, root: String, store: ManifestStore,
                       newPartitionCol: String, filesPerDir: Int): Staged = {
    require(filesPerDir >= 1, s"filesPerDir=$filesPerDir")
    val m = readManifest(store).getOrElse(
      sys.error(s"no manifest at $root — not an AtomicCommit table"))
    // the OLD partition column turns into a stored data column here —
    // scanManifest's verbatim-partition read is what keeps `day=01` a
    // string "01" instead of baking int 1 into the rewritten files
    val df = scanManifest(spark, root, m)
    require(df.columns.contains(newPartitionCol),
      s"$newPartitionCol is not a column of $root " +
        s"(columns: ${df.columns.mkString(", ")}) — evolution re-keys " +
        "existing facts; derive the column first")
    Files.createDirectories(Paths.get(root))
    val gen = s"g${java.util.UUID.randomUUID.toString.take(12)}"
    val keyed =
      if (filesPerDir == 1) df.repartition(col(newPartitionCol))
      else df.repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions,
        col(newPartitionCol),
        pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(filesPerDir)))
    keyed.write.mode("error").partitionBy(newPartitionCol)
      .parquet(s"$root/$gen")
    val parts = partitionDirs(Paths.get(root, gen), newPartitionCol)
    require(parts.nonEmpty,
      s"repartition staged no partition directories at $root/$gen — does " +
        s"$newPartitionCol hold only nulls?")
    DataSkipping.writeFileIndex(root, gen, newPartitionCol)
    val staged = Staged(gen, newPartitionCol, parts, m.version, Map.empty)
    staged.copy(enforced = Some(enforceConstraints(spark, root, staged, Some(m))))
  }

  /** Publish a [[stageRepartition]]: the manifest's entries AND partition
    * column are replaced wholesale. Single CAS attempt by design — a lost
    * race IS a conflict for a whole-table rewrite.
    */
  def publishRewrite(root: String, store: ManifestStore,
                     staged: Staged): Long = {
    staged.props.foreach { case (k, v) =>
      require(!(k + v).exists(c => c == '{' || c == '}'),
        s"manifest props must not contain braces: $k -> $v")
    }
    val prev = readManifest(store).getOrElse(
      sys.error(s"no manifest at $root — not an AtomicCommit table"))
    if (prev.version != staged.baseVersion)
      throw new PartitionConflictException(
        s"table at $root moved from v${staged.baseVersion} to " +
          s"v${prev.version} during the rewrite — a whole-table re-key " +
          "conflicts with every concurrent commit; re-run it")
    if (!Files.isDirectory(Paths.get(root, staged.gen)))
      throw new IllegalStateException(
        s"staged generation ${staged.gen} no longer exists at $root " +
          "(vacuumed before publish?) — the commit cannot proceed")
    val next = Manifest(prev.version + 1, staged.partitionCol,
      staged.partitions.map(_ -> staged.gen).toMap,
      stampWhen(Some(prev.props), (prev.props ++ staged.props)
        .map { case (k, value) =>
          // staged keys only — see the casLoop note: a carried prop whose
          // value is the literal sentinel stays verbatim
          k -> (if (value == VersionValueSentinel &&
            staged.props.contains(k))
            (prev.version + 1).toString else value)
        }))
    if (!store.putIfAbsent(manifestName(next.version),
      renderJson(next).getBytes(StandardCharsets.UTF_8)))
      throw new PartitionConflictException(
        s"a concurrent commit won v${next.version} at $root during the " +
          "rewrite publish — re-run the re-key")
    next.version
  }

  /** Phase 2 of an append: merge the staged generation ONTO each touched
    * partition's current owner list and CAS-publish. No conflict abort —
    * see [[commitAppendPartitions]].
    */
  def publishAppend(root: String, store: ManifestStore,
                    staged: Staged): Long =
    casLoop(root, store, staged, append = true, Set.empty).get

  /** [[publishAppend]] with [[publishIfNew]]'s exactly-once monotonic-props
    * guard: a replayed batch whose watermark the current manifest already
    * covers returns None without committing, decided atomically with the
    * CAS (see [[publishIfNew]]).
    */
  def publishAppendIfNew(root: String, store: ManifestStore, staged: Staged,
                         monotonicKeys: Set[String]): Option[Long] =
    casLoop(root, store, staged, append = true, monotonicKeys)

  /** Snapshot read: resolve the highest-version manifest once, scan only
    * owned partition directories. Each generation is read with its own
    * basePath so the partition column survives; per-generation DataFrames
    * union by name with ADDITIVE schema evolution: a column present in
    * some generations and absent in others reads as null where absent
    * (the Iceberg/Delta add-column semantic — old data is never
    * rewritten). Type CHANGES are not evolution and fail the union with
    * Spark's mismatch error.
    */
  def read(spark: SparkSession, root: String): DataFrame =
    read(spark, root, posix(root))

  def read(spark: SparkSession, root: String, store: ManifestStore): DataFrame =
    scanManifest(spark, root, readManifest(store).getOrElse(
      sys.error(s"no ${ManifestPrefix}N$ManifestSuffix at $root — not an AtomicCommit table")))

  /** TIME TRAVEL: the snapshot exactly as version `version` published it —
    * manifests are immutable and generations append-only, so any version
    * still on disk replays byte-identically (the Iceberg `VERSION AS OF`
    * read). History depth is the caller's [[vacuum]] retention choice;
    * reading a vacuumed version fails with a clear error, never a partial
    * result.
    */
  def readAt(spark: SparkSession, root: String, version: Long): DataFrame =
    readAt(spark, root, posix(root), version)

  def readAt(spark: SparkSession, root: String, store: ManifestStore,
             version: Long): DataFrame =
    scanManifest(spark, root, manifestAt(store, root, version))

  /** A snapshot's commit timestamp (epoch millis) — absent only on
    * versions published before the engine stamped commits.
    */
  def commitTimeMillis(m: Manifest): Option[Long] =
    m.props.get(CommitWhenProp).flatMap(_.toLongOption)

  /** `TIMESTAMP AS OF` resolution: the LATEST version committed at or
    * before `tsMillis` — walked newest-first from the resolved head (a
    * pending multi-table transaction never serves), so a timestamp after
    * the last commit answers with the head (that IS the table's state at
    * that moment). Versions predating commit stamping count as
    * arbitrarily old. Fails when `tsMillis` predates every retained
    * version — vacuum is the horizon for timestamps exactly as it is for
    * version numbers.
    */
  def versionAsOfTimestamp(root: String, tsMillis: Long): Long =
    versionAsOfTimestamp(posix(root), root, tsMillis)

  def versionAsOfTimestamp(store: ManifestStore, root: String,
                           tsMillis: Long): Long = {
    val head = readManifest(store).getOrElse(
      sys.error(s"no manifest at $root — not an AtomicCommit table"))
    val vs = versions(store).filter(_ <= head.version).sorted.reverse
    for (v <- vs) {
      val when = commitTimeMillis(
        if (v == head.version) head else manifestAt(store, root, v))
      if (when.forall(_ <= tsMillis)) return v
    }
    sys.error(s"timestamp $tsMillis predates every retained version of " +
      s"$root (earliest retained: v${vs.last} at " +
      s"${commitTimeMillis(manifestAt(store, root, vs.last))
        .map(_.toString).getOrElse("unstamped")})")
  }

  /** Time travel by wall clock: the snapshot current at `tsMillis`. */
  def readAsOfTimestamp(spark: SparkSession, root: String,
                        tsMillis: Long): DataFrame =
    readAsOfTimestamp(spark, root, posix(root), tsMillis)

  def readAsOfTimestamp(spark: SparkSession, root: String,
                        store: ManifestStore, tsMillis: Long): DataFrame =
    readAt(spark, root, store, versionAsOfTimestamp(store, root, tsMillis))

  /** Snapshot versions still readable (ascending). [[vacuum]] prunes all
    * but the current one, so this is also the time-travel horizon.
    */
  def versions(root: String): Seq[Long] = versions(posix(root))

  def versions(store: ManifestStore): Seq[Long] =
    store.list().flatMap(versionOf).sorted

  /** Partition values whose OWNING GENERATION differs between two on-disk
    * versions (including appears/disappears). Because generations are
    * immutable, same owner ⇒ byte-identical partition — this set is the
    * EXACT change surface between the snapshots, resolved driver-side
    * from two manifest files (O(#partitions), no data I/O).
    */
  def changedPartitions(root: String, fromVersion: Long,
                        toVersion: Long): Seq[String] =
    changedPartitions(posix(root), root, fromVersion, toVersion)

  def changedPartitions(store: ManifestStore, root: String, fromVersion: Long,
                        toVersion: Long): Seq[String] = {
    val a = manifestAt(store, root, fromVersion).entries
    val b = manifestAt(store, root, toVersion).entries
    (a.keySet ++ b.keySet).filter(p => a.get(p) != b.get(p)).toSeq.sorted
  }

  /** Row-level CDC between two snapshot versions — q142's classification
    * (insert / delete / update by `keyCol`, any column differing) made
    * INCREMENTAL by the manifest: only [[changedPartitions]] are scanned
    * on either side, so the diff costs O(changed partitions), not
    * O(snapshot) — the immutability argument above is what makes skipping
    * the rest sound, where a file-level diff of a mutable layout would
    * have to checksum everything. Returns `change_type` + the key + every
    * `<col>_from`/`<col>_to` pair; empty when the versions share every
    * owner.
    */
  def diff(spark: SparkSession, root: String, fromVersion: Long,
           toVersion: Long, keyCol: String): DataFrame =
    diff(spark, root, posix(root), fromVersion, toVersion, keyCol)

  def diff(spark: SparkSession, root: String, store: ManifestStore,
           fromVersion: Long, toVersion: Long, keyCol: String): DataFrame = {
    val changed = changedPartitions(store, root, fromVersion, toVersion)
    val mA = manifestAt(store, root, fromVersion)
    val mB = manifestAt(store, root, toVersion)
    def side(m: Manifest): Option[DataFrame] = {
      val owned = m.entries.filter { case (p, _) => changed.contains(p) }
      if (owned.isEmpty) None
      else Some(scanManifest(spark, root, m.copy(entries = owned)))
    }
    (side(mA), side(mB)) match {
      case (a, b) =>
        // identical manifests scan nothing, but the result must still
        // carry the documented schema (callers select change_type/_from/
        // _to unconditionally) — probe ONE owned directory for the table
        // schema (a footer read; filter(false) folds the scan away), same
        // as [[DataSkipping.readWhere]]'s all-pruned case. One side can
        // also be empty alone (all-new or all-dropped partitions).
        val probe = a.orElse(b).getOrElse(
          scanManifest(spark, root, mB.copy(entries = Map(mB.entries.head)))
            .filter(lit(false)))
        val dataCols = probe.columns.filterNot(_ == keyCol).toSeq
        val empty = probe.filter(lit(false))
        val av = a.getOrElse(empty).alias("a")
        val bv = b.getOrElse(empty).alias("b")
        val joined = av.join(bv, col(s"a.$keyCol") === col(s"b.$keyCol"), "full_outer")
        val changedRow = dataCols
          .map(c => !(col(s"a.$c") <=> col(s"b.$c")))
          .reduceOption(_ || _).getOrElse(lit(false))
        val outCols =
          when(col(s"a.$keyCol").isNull, lit("insert"))
            .when(col(s"b.$keyCol").isNull, lit("delete"))
            .when(changedRow, lit("update"))
            .otherwise(lit("unchanged")).as("change_type") +:
          coalesce(col(s"a.$keyCol"), col(s"b.$keyCol")).as(keyCol) +:
          dataCols.flatMap(c =>
            Seq(col(s"a.$c").as(s"${c}_from"), col(s"b.$c").as(s"${c}_to")))
        joined.select(outCols: _*)
          .filter(col("change_type") =!= "unchanged")
    }
  }

  /** ROLLBACK: republish version `version`'s exact partition→generation
    * mapping as a NEW version (props carried from the current manifest —
    * a rollback undoes data, not e.g. the streaming watermark, or
    * replayed batches would double-append after the revert). Pure
    * metadata: no data moves, cost O(#partitions), and the rolled-back
    * state is itself a version — rolling back a rollback works. Requires
    * the target version to still be on disk (vacuum is the horizon).
    */
  def rollbackTo(root: String, version: Long): Long =
    rollbackTo(root, posix(root), version)

  def rollbackTo(root: String, store: ManifestStore, version: Long): Long = {
    val target = manifestAt(store, root, version)
    // every generation the target references must still exist — a
    // vacuumed generation would make the rollback a manifest pointing at
    // deleted data (the one corruption worse than failing)
    val missing = target.entries.values.flatMap(allGensOf).toSeq.distinct
      .filterNot(g => Files.isDirectory(Paths.get(root, g)))
    require(missing.isEmpty,
      s"cannot roll back to v$version at $root: generation(s) " +
        s"${missing.mkString(", ")} were vacuumed")
    var attempt = 0
    while (attempt < MaxPublishRetries) {
      val cur = readManifest(store).getOrElse(
        sys.error(s"no manifest at $root — nothing to roll back"))
      val next = Manifest(cur.version + 1, target.partitionCol,
        target.entries, stampWhen(Some(cur.props), cur.props))
      if (store.putIfAbsent(manifestName(next.version),
        renderJson(next).getBytes(StandardCharsets.UTF_8)))
        return next.version
      attempt += 1
    }
    throw new VersionConflictException(
      s"lost the manifest CAS $MaxPublishRetries times at $root — writer storm?")
  }

  private val TagPrefix = "graft.tag."
  private val ConstraintPrefix = "graft.constraint."
  private val BranchBaseProp = "graft.branch.base"

  /** Every published version carries its COMMIT TIMESTAMP (epoch millis)
    * in this prop — the basis for `TIMESTAMP AS OF` time travel
    * ([[versionAsOfTimestamp]]). Stamped by the engine at publish time at
    * every site that creates a new version; never set it yourself.
    */
  val CommitWhenProp = "graft.commit.when"

  /** Set by the batch face's read-triggered self-heal ([[graft.sources
    * .GraftBatchScan]] auto-materialization) on the maintenance commit
    * it lands: the value is the VERSION NUMBER the heal created. Props
    * carry forward across later commits, so the marker does double
    * duty — [[history]] classifies exactly that version as kind
    * `"heal"` (the value names the one version it describes; carried
    * copies never match a later version number), and the current
    * snapshot's copy answers "when did a SELECT last commit to this
    * table" (DESCRIBE DETAIL's `last_heal_version`).
    */
  val HealVersionProp = "graft.heal.version"

  /** A staged prop VALUE equal to this resolves, at publish time and
    * per CAS attempt, to the version number the commit actually lands —
    * the only correct way to stage a version-naming prop: a lost CAS
    * re-merges and retries at a higher version, so a pre-computed
    * `base + 1` can end up naming a concurrent writer's commit.
    */
  val VersionValueSentinel = "@commit-version"

  /** The commit props for a new version: `props` plus a commit timestamp
    * that is MONOTONIC within the lineage (wall clock, floored at the
    * previous version's stamp + 1 ms — the Delta rule, so a clock step
    * backwards between commits can never make [[versionAsOfTimestamp]]'s
    * latest-at-or-before resolution ambiguous).
    */
  private[sources] def stampWhen(prevProps: Option[Map[String, String]],
                                 props: Map[String, String])
      : Map[String, String] = {
    val floor = prevProps.flatMap(_.get(CommitWhenProp))
      .flatMap(_.toLongOption).map(_ + 1L).getOrElse(Long.MinValue)
    props + (CommitWhenProp ->
      math.max(System.currentTimeMillis(), floor).toString)
  }

  /** BRANCHES (Iceberg/Nessie-style refs with independent lineage): a
    * branch is the table seen through a [[BranchStore]] name-translating
    * view, so EVERY API in this object — commits, reads, time travel,
    * tags, constraints, change feeds — runs against a branch by passing
    * `branchStore(store, name)` where it takes a store. Forking copies
    * ONE manifest (metadata only — data generations are shared bytes),
    * recording the fork point for the fast-forward merge check.
    *
    * Lifecycle: [[createBranch]] → commit freely against the branch view
    * (its versions continue from the fork number in a private namespace;
    * main is untouched) → [[mergeBranch]] fast-forwards main to the
    * branch snapshot iff main has not moved since the fork (anything
    * else aborts with [[PartitionConflictException]] — re-create the
    * branch from current main and re-apply, the optimistic-concurrency
    * answer) → [[dropBranch]] discards the lineage. Space: use
    * [[vacuumBranched]] (or plain [[vacuum]], which detects branches and
    * delegates) — a single-view sweep cannot see the generations other
    * branches still reference.
    */
  def branchStore(store: ManifestStore, name: String): ManifestStore =
    new BranchStore(store, name)

  def createBranch(root: String, name: String): Long =
    createBranch(root, posix(root), name, None)

  def createBranch(root: String, store: ManifestStore, name: String,
                   fromVersion: Option[Long] = None): Long = {
    val bs = new BranchStore(store, name)
    require(currentVersion(bs).isEmpty, s"branch $name already exists at $root")
    val v = fromVersion.getOrElse(currentVersion(store).getOrElse(
      sys.error(s"no manifest at $root — nothing to branch")))
    val m = manifestAt(store, root, v)
    val body = renderJson(m.copy(
      props = m.props + (BranchBaseProp -> v.toString)))
    if (!bs.putIfAbsent(manifestName(v), body.getBytes(StandardCharsets.UTF_8)))
      sys.error(s"branch $name created concurrently at $root")
    v
  }

  /** Branch names present in the store. */
  def branches(root: String): Seq[String] = branches(posix(root))
  def branches(store: ManifestStore): Seq[String] = BranchStore.branches(store)

  /** The main version a branch forked from. */
  def branchBase(store: ManifestStore, name: String): Option[Long] =
    readManifest(new BranchStore(store, name))
      .flatMap(_.props.get(BranchBaseProp)).map(_.toLong)

  /** Merge a branch into main, in one CAS. Two regimes:
    *
    *  - FAST-FORWARD: main still sits at the fork version — main simply
    *    advances to the branch's snapshot.
    *  - THREE-WAY (r14): main moved since the fork. The merge is sound
    *    exactly when the two lineages' change sets since the merge base
    *    are DISJOINT at partition granularity — generations are immutable,
    *    so a partition only one side touched carries that side's bytes
    *    verbatim, and the merged manifest is main's entries with the
    *    branch's changed partitions overlaid (branch-side drops apply
    *    too). Overlapping partitions abort with BOTH write sets named —
    *    re-fork from current main and re-apply, the module's standard
    *    loser protocol. Also aborted as conflicts: a partition-column
    *    change on either side (a re-key conflicts with everything), and a
    *    constraint-set change on one side while the other committed data
    *    (those commits were never validated under the changed rules).
    *
    * The branch's props (tags, watermarks, constraints) merge in; the
    * fork marker does not. Tag values are branch-namespace versions and
    * translate ([[translateBranchProps]]): fast-forward merges re-pin
    * head-content tags to the merged version, three-way merges keep only
    * shared-history tags (the merged snapshot also holds main's changes,
    * so no main version has a branch-tagged content). A lost CAS (a main
    * commit racing the merge
    * itself) aborts — re-RUN the merge, which recomputes against the new
    * main head. After a successful merge, drop and re-create the branch
    * before further use: its recorded base predates the merge, so a
    * second merge of the same lineage would see its own changes as
    * overlap.
    */
  def mergeBranch(root: String, name: String): Long =
    mergeBranch(root, posix(root), name)

  def mergeBranch(root: String, store: ManifestStore, name: String): Long = {
    val bs = new BranchStore(store, name)
    val bm = readManifest(bs).getOrElse(
      sys.error(s"no branch $name at $root"))
    val base = bm.props.get(BranchBaseProp).map(_.toLong).getOrElse(
      sys.error(s"branch $name carries no fork base — not created by createBranch"))
    val cur = readManifest(store).getOrElse(
      sys.error(s"no manifest at $root"))
    val next =
      if (cur.version == base) // fast-forward
        Manifest(cur.version + 1, bm.partitionCol, bm.entries,
          stampWhen(Some(cur.props),
            translateBranchProps(bs, root, bm, base, cur.version + 1)))
      else {
        // three-way: both sides diffed against the MAIN manifest at the
        // fork version (the branch's fork copy is byte-equal by
        // construction, and main retains the base while any consumer may
        // lag — if vacuumed, the evidence is gone and the merge aborts)
        val baseM =
          try manifestAt(store, root, base)
          catch {
            case _: Throwable => throw new PartitionConflictException(
              s"merge base v$base of branch $name was vacuumed on main at " +
                s"$root — no disjointness evidence; re-fork and re-apply")
          }
        if (bm.partitionCol != cur.partitionCol ||
          bm.partitionCol != baseM.partitionCol)
          throw new PartitionConflictException(
            s"partition column changed across the merge of branch $name at " +
              s"$root (${baseM.partitionCol} / ${cur.partitionCol} / " +
              s"${bm.partitionCol}) — a re-key conflicts with every " +
              "concurrent lineage; re-fork")
        def changedVs(m: Manifest): Set[String] =
          (baseM.entries.keySet ++ m.entries.keySet)
            .filter(p => baseM.entries.get(p) != m.entries.get(p))
        val branchChanged = changedVs(bm)
        val mainChanged = changedVs(cur)
        val overlap = (branchChanged & mainChanged).toSeq.sorted
        if (overlap.nonEmpty)
          throw new PartitionConflictException(
            s"cannot merge branch $name at $root: partitions " +
              s"${overlap.mkString(", ")} changed on BOTH lineages since " +
              s"fork v$base (branch wrote ${branchChanged.toSeq.sorted.mkString(", ")}; " +
              s"main wrote ${mainChanged.toSeq.sorted.mkString(", ")}) — " +
              "re-fork from current main and re-apply")
        def consOf(m: Manifest): Map[String, String] =
          m.props.filter(_._1.startsWith(ConstraintPrefix))
        if (consOf(bm) != consOf(baseM) && mainChanged.nonEmpty)
          throw new PartitionConflictException(
            s"branch $name changed CHECK constraints while main committed " +
              s"data at $root — main's post-fork rows were never validated " +
              "under them; re-fork and re-apply (or re-add the constraint " +
              "on main, which validates the full table)")
        if (consOf(cur) != consOf(baseM) && branchChanged.nonEmpty)
          throw new PartitionConflictException(
            s"main changed CHECK constraints while branch $name committed " +
              s"data at $root — the branch's rows were never validated " +
              "under them; re-fork and re-apply")
        // schema-mapping props are WHOLE-VALUE chains: a one-sided change
        // merges soundly (the chain translates the other side's data),
        // but divergent changes on BOTH lineages cannot three-way merge —
        // taking either side would silently unmap the other's columns
        Seq(SchemaRenamedProp, SchemaDroppedProp, SchemaAddedProp,
          SchemaWidenedProp)
          .foreach { k =>
            val (b, c, b0) =
              (bm.props.get(k), cur.props.get(k), baseM.props.get(k))
            if (b != b0 && c != b0 && b != c)
              throw new PartitionConflictException(
                s"cannot merge branch $name at $root: $k diverged on BOTH " +
                  s"lineages since fork v$base (schema DDL does not " +
                  "three-way merge) — re-fork and re-apply the DDL")
          }
        val mergedEntries =
          (cur.entries -- branchChanged.filter(p => !bm.entries.contains(p))) ++
            bm.entries.filter { case (p, _) => branchChanged.contains(p) }
        require(mergedEntries.nonEmpty,
          s"merging branch $name would leave $root with zero partitions")
        // props: main's, minus keys the branch dropped since base, plus
        // keys the branch added/changed (tag values translated)
        val branchDropped = baseM.props.keySet -- bm.props.keySet
        val branchChangedProps = bm.props.filter { case (k, v) =>
          baseM.props.get(k) != Some(v)
        }
        val translated = branchChangedProps.flatMap {
          case (k, v) if k.startsWith(TagPrefix) =>
            // a branch tag names a branch-namespace snapshot; the merged
            // snapshot additionally holds main's changes, so NO main
            // version has the tagged content — only shared-history tags
            // (at or before the base) survive a three-way merge
            if (v.toLong <= base) Some(k -> v) else None
          case kv => Some(kv)
        }
        val mergedProps =
          cur.props -- branchDropped ++ translated - BranchBaseProp
        validateMergedMapping(root, name, mergedProps)
        Manifest(cur.version + 1, cur.partitionCol, mergedEntries,
          stampWhen(Some(cur.props), mergedProps))
      }
    if (!store.putIfAbsent(manifestName(next.version),
      renderJson(next).getBytes(StandardCharsets.UTF_8)))
      throw new PartitionConflictException(
        s"a concurrent commit won v${next.version} at $root during the " +
          s"merge of branch $name — re-run the merge")
    next.version
  }

  /** Cross-KEY consistency of the schema-mapping props a three-way merge
    * composes: the per-key check above only rejects divergence on the
    * SAME prop, so a branch that ran `RENAME a TO b` (chain changed
    * one-sided) merges "soundly" against a main that ran `ADD COLUMN b`
    * (added set changed one-sided) — yet the union carries a rename
    * chain targeting `b` AND an added column `b`, a name recycling no
    * single lineage's [[validateMappingTarget]] would ever admit (the
    * backfill would silently drop the added column wherever renamed data
    * exists, and generations would disagree on `b`'s type). Re-apply the
    * closed-set rule to the MERGED state: added names stay disjoint from
    * chain sides and dropped names, and dropped names never name a
    * pre-rename chain side (drop records CURRENT logical names, so a
    * chain-old dropped name can only arise cross-lineage). Props-level
    * only — no SparkSession here to read footers — which covers exactly
    * the DDL each side can have committed.
    */
  private def validateMergedMapping(root: String, branch: String,
                                    props: Map[String, String]): Unit = {
    val probe = Manifest(0L, "", Map.empty, props)
    val renames = renamesOf(probe)
    val chainSides = renames.flatMap { case (o, n) => Seq(o, n) }.toSet
    val chainOld = renames.map(_._1).toSet
    val dropped = droppedOf(probe)
    val added = props.get(SchemaAddedProp)
      .map(org.apache.spark.sql.types.StructType.fromDDL(_)
        .fieldNames.toSet).getOrElse(Set.empty[String])
    val widenedKeys = widenedOf(probe).map(_._1).toSet
    val collisions =
      (added & chainSides).toSeq.sorted.map(c =>
        s"added column $c collides with the rename chain") ++
      (added & dropped).toSeq.sorted.map(c =>
        s"added column $c collides with a dropped column") ++
      (dropped & chainOld).toSeq.sorted.map(c =>
        s"dropped column $c names a pre-rename chain side") ++
      // a widening entry keyed by a pre-rename or dropped name can only
      // arise cross-lineage (rename REKEYS and drop REMOVES the entry
      // on one lineage) — merged, it would silently stop applying
      (widenedKeys & chainOld).toSeq.sorted.map(c =>
        s"widened column $c names a pre-rename chain side") ++
      (widenedKeys & dropped).toSeq.sorted.map(c =>
        s"widened column $c names a dropped column")
    if (collisions.nonEmpty)
      throw new PartitionConflictException(
        s"cannot merge branch $branch at $root: the combined schema-DDL " +
          s"state is inconsistent — ${collisions.mkString("; ")}. Each " +
          "lineage's DDL is sound alone but their union recycles a " +
          "column name; re-fork from current main and re-apply the DDL")
  }

  /** Tag values are BRANCH-NAMESPACE version numbers; carried across a
    * merge verbatim they would point at main versions that do not exist
    * yet — and once main commits again, readTag/vacuum would silently pin
    * an unrelated future snapshot. Translation rule: a tag at or before
    * the fork base names shared history (carried unchanged — main's own
    * manifest for it, if still retained); a tag at a branch version whose
    * ENTRIES equal the branch head's names exactly the snapshot the merge
    * publishes (becomes the merged version — this covers the head itself
    * and the tag-then-merge flow where the tag commit bumped the head
    * past its target); a tag at any other branch-only version has no main
    * equivalent and is DROPPED — its manifest lives only in the branch
    * namespace, so carrying it would be a dangling (then wrong) pin.
    */
  private def translateBranchProps(bs: ManifestStore, root: String,
                                   bm: Manifest, base: Long,
                                   mergedVersion: Long): Map[String, String] =
    (bm.props - BranchBaseProp).flatMap {
      case (k, v) if k.startsWith(TagPrefix) =>
        val tv = v.toLong
        if (tv <= base) Some(k -> v)
        else {
          val sameSnapshot =
            try manifestAt(bs, root, tv).entries == bm.entries
            catch { case _: Throwable => false } // vacuumed target: drop
          if (sameSnapshot) Some(k -> mergedVersion.toString) else None
        }
      case kv => Some(kv)
    }

  /** Discard a branch's lineage (metadata only; shared generations are
    * reclaimed by the next [[vacuumBranched]] if nothing else holds them).
    */
  def dropBranch(store: ManifestStore, name: String): Unit = {
    val bs = new BranchStore(store, name)
    bs.list().foreach(bs.delete)
  }

  final class ConstraintViolationException(msg: String)
    extends RuntimeException(msg)

  /** CHECK CONSTRAINTS (the Delta/ANSI table-constraint idea): a named
    * boolean SQL expression every committed row must satisfy, stored in
    * manifest props so it travels with the snapshot and binds EVERY
    * writer — batch replace, append, delete rewrite, streaming sink,
    * merge, compaction, all of which stage through [[stage]]/
    * [[stageKeyed]] where enforcement lives. Validation reads the STAGED
    * bytes (one O(batch) filter job over the generation just written,
    * before any manifest references it), so a violating commit aborts
    * with [[ConstraintViolationException]] leaving the table untouched —
    * the orphaned generation ages out via [[vacuum]]. SQL semantics: a
    * row violates iff the expression is FALSE; null passes (add
    * `IS NOT NULL` to forbid nulls).
    *
    * [[addConstraint]] first validates ALL current data (one full scan —
    * a constraint that existing rows break would make every future
    * rewrite of their partitions fail), then publishes the constraint as
    * a props-only commit, atomic with the version bump. A writer already
    * mid-flight when the constraint lands (staged before, publishing
    * after) cannot slip unvalidated rows through: its publish CAS
    * compares the rules it enforced at stage time against the current
    * manifest's and aborts on any difference — the metadata-change
    * conflict rule, so "binds every writer" holds under the race too.
    */
  def addConstraint(spark: SparkSession, root: String, name: String,
                    sqlExpr: String): Long =
    addConstraint(spark, root, posix(root), name, sqlExpr)

  def addConstraint(spark: SparkSession, root: String, store: ManifestStore,
                    name: String, sqlExpr: String): Long = {
    require(name.nonEmpty && !name.exists(c => c == '{' || c == '}' || c == '"'),
      s"bad constraint name: $name")
    require(!sqlExpr.exists(c => c == '{' || c == '}'),
      s"constraint expressions must not contain braces (manifest props): $sqlExpr")
    val m = readManifest(store).getOrElse(
      sys.error(s"no manifest at $root — not an AtomicCommit table"))
    val bad = scanManifest(spark, root, m)
      .filter(!coalesce(expr(sqlExpr), lit(true))).limit(3).collect()
    if (bad.nonEmpty)
      throw new ConstraintViolationException(
        s"cannot add constraint $name ($sqlExpr) to $root: existing rows " +
          s"violate it, e.g. ${bad.mkString("; ")}")
    propsCommit(root, store, Map(ConstraintPrefix + name -> sqlExpr), Nil)
  }

  def dropConstraint(root: String, name: String): Long =
    dropConstraint(root, posix(root), name)

  def dropConstraint(root: String, store: ManifestStore, name: String): Long =
    propsCommit(root, store, Map.empty, Seq(ConstraintPrefix + name))

  /** Current constraints, name → SQL expression. */
  def constraints(root: String): Map[String, String] = constraints(posix(root))

  def constraints(store: ManifestStore): Map[String, String] =
    readManifest(store).map(_.props.collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        k.stripPrefix(ConstraintPrefix) -> v
    }).getOrElse(Map.empty)

  /** The enforcement point: every stage path calls this on the bytes it
    * just wrote, against the constraints of the manifest it staged
    * against. One filter job; no-op when the table has no constraints.
    * Returns the rule set it enforced (name → expression) — recorded on
    * the [[Staged]] so [[casLoop]] can detect a constraint added or
    * changed BETWEEN stage and publish: without that commit-time check,
    * a writer staging before an [[addConstraint]] and publishing after it
    * would commit rows no rule ever validated (and addConstraint's own
    * full-table scan cannot see the unpublished generation either). The
    * Delta metadata-change conflict rule, on props.
    */
  private def enforceConstraints(spark: SparkSession, root: String,
                                 staged: Staged,
                                 prev: Option[Manifest]): Map[String, String] = {
    val rules = prev.map(_.props.collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        k.stripPrefix(ConstraintPrefix) -> v
    }).getOrElse(Map.empty)
    if (rules.isEmpty) return rules
    val genPath = s"$root/${staged.gen}"
    val data = readVerbatim(spark, genPath, staged.partitionCol,
      staged.partitions.map(v => s"$genPath/${staged.partitionCol}=$v"))
    rules.toSeq.sortBy(_._1).foreach { case (name, rule) =>
      val bad = data.filter(!coalesce(expr(rule), lit(true))).limit(3).collect()
      if (bad.nonEmpty)
        throw new ConstraintViolationException(
          s"commit to $root violates constraint $name ($rule), e.g. " +
            s"${bad.mkString("; ")} — nothing was published")
    }
    rules
  }

  /** TAG: pin snapshot `version` under a durable name (Iceberg's tagged
    * references) — "the snapshot training-run X read" as table metadata,
    * not tribal knowledge. A tag is a props-only commit (`graft.tag.<name>
    * = version`), so it rides the same CAS as data commits and is visible
    * atomically; [[vacuum]] KEEPS tagged versions — their manifest and
    * every generation they reference survive any `keepVersions` horizon
    * until [[untag]] releases them. Fails if the version is not on disk.
    */
  def tag(root: String, name: String, version: Long): Long =
    tag(root, posix(root), name, version)

  def tag(root: String, store: ManifestStore, name: String,
          version: Long): Long = {
    require(name.nonEmpty && !name.exists(c => c == '{' || c == '}' || c == '"'),
      s"bad tag name: $name")
    manifestAt(store, root, version) // must exist — a tag cannot resurrect
    propsCommit(root, store, Map(TagPrefix + name -> version.toString), Nil)
  }

  /** Release a tag (props-key removal); the pinned version becomes subject
    * to the normal [[vacuum]] horizon on the NEXT vacuum.
    */
  def untag(root: String, name: String): Long = untag(root, posix(root), name)

  def untag(root: String, store: ManifestStore, name: String): Long =
    propsCommit(root, store, Map.empty, Seq(TagPrefix + name))

  /** Current tags, name → version. */
  def tags(root: String): Map[String, Long] = tags(posix(root))

  def tags(store: ManifestStore): Map[String, Long] =
    readManifest(store).map(_.props.collect {
      case (k, v) if k.startsWith(TagPrefix) => k.stripPrefix(TagPrefix) -> v.toLong
    }).getOrElse(Map.empty)

  /** The snapshot a tag pins — [[readAt]] by name. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame =
    readTag(spark, root, posix(root), name)

  def readTag(spark: SparkSession, root: String, store: ManifestStore,
              name: String): DataFrame =
    readAt(spark, root, store, tags(store).getOrElse(name,
      sys.error(s"no tag $name at $root (tags: ${tags(store).keys.toSeq.sorted.mkString(", ")})")))

  /** ADDITIVE SCHEMA EVOLUTION as a metadata commit (`ALTER TABLE ...
    * ADD COLUMN(S)`): the full added-column set (DDL-rendered) rides
    * manifest props, so the catalog/SQL schema grows IMMEDIATELY — no
    * data rewrite, no footer touched — and every existing row reads the
    * new columns as NULL ([[graft.sources.GraftRelation]] backfills at
    * scan). Once writes carry a column, the footers own its type and the
    * prop entry for it is ignored; the non-additive changes (drop,
    * rename, retype) stay rejected — they would rewrite footers.
    * `cols` REPLACES the recorded set (callers append to the current
    * one); names colliding with footer columns are screened at read.
    */
  val SchemaAddedProp = "graft.schema.added"

  def addColumns(root: String, store: ManifestStore,
                 cols: org.apache.spark.sql.types.StructType): Long =
    propsCommit(root, store, Map(SchemaAddedProp -> cols.toDDL), Nil)

  /** [[addColumns]] with the read-modify-write closed: `toAdd` APPENDS to
    * whatever added set is current AT COMMIT TIME (collision- and
    * name-recycling-validated per attempt), guarded against concurrent
    * commits — two racing ADD COLUMNs both land, neither clobbers the
    * other's entry. Prefer this over raw [[addColumns]] (whose full-set
    * contract makes the caller's read part of the race window).
    */
  def addColumnsAtomic(spark: SparkSession, root: String,
                       store: ManifestStore,
                       toAdd: org.apache.spark.sql.types.StructType): Long =
    ddlRetry {
      val m = readManifest(store).getOrElse(
        sys.error(s"no manifest at $root — not an AtomicCommit table"))
      val footer = scanManifest(spark, root, m).schema
      var added = m.props.get(SchemaAddedProp)
        .map(org.apache.spark.sql.types.StructType.fromDDL)
        .getOrElse(new org.apache.spark.sql.types.StructType())
      toAdd.fields.foreach { f =>
        if (footer.exists(_.name == f.name) || added.exists(_.name == f.name))
          sys.error(s"column ${f.name} already exists at $root")
        validateMappingTarget(spark, root, m, f.name)
        added = added.add(f.name, f.dataType, nullable = true)
      }
      propsCommit(root, store, Map(SchemaAddedProp -> added.toDDL), Nil,
        guardVersion = Some(m.version))
    }

  /** COLUMN MAPPING, rename-forward flavored (`ALTER TABLE ... RENAME /
    * DROP COLUMN` as metadata-only commits). Delta/Iceberg keep a
    * permanent logical→physical indirection; this engine's generations
    * already union BY NAME per immutable generation, so a lighter
    * invariant holds the same guarantee with LAZY physical migration:
    *
    *  - A RENAME records `old>new` in an ORDERED chain
    *    ([[SchemaRenamedProp]]). Nothing physical moves: old generations
    *    keep the old footer name, and every reader applies the chain
    *    PER GENERATION ([[logicalView]]) before the cross-generation
    *    union, so all faces see the current logical name. New writes
    *    carry the new name physically, and every rewrite (UPDATE's
    *    partition-CoW, MERGE, OPTIMIZE/compaction — all of which read
    *    through the logical view) emits the new name too: the physical
    *    layout HEALS toward the logical schema instead of carrying an
    *    indirection forever.
    *  - A DROP records the CURRENT logical name in [[SchemaDroppedProp]];
    *    [[logicalView]] excludes it (after the rename chain). Old bytes
    *    stay until their generation rewrites — exactly Delta's
    *    drop-column semantics before REORG PURGE.
    *
    * Name-reuse is REJECTED at DDL time (a rename target or re-added
    * column may not collide with any live, dropped, or chain-recorded
    * name) — that closed set is what makes chain application sound:
    * every historical name maps to at most one current name, so
    * evidence recorded under old names (equality-delete records —
    * translated in [[deleteEvidence]]) follows the chain, and evidence
    * that CANNOT follow (stats/bloom sidecars of old generations, keyed
    * by their write-time names) degrades to "no evidence = keep", which
    * pruning treats soundly and ANALYZE/compaction heal.
    *
    * Scale: both verbs are one props commit — O(manifest), zero data
    * I/O, at 100 TB as at 100 rows. The read-side cost is one Project
    * per generation, only on tables whose props carry mapping state.
    */
  val SchemaRenamedProp = "graft.schema.renamed"
  val SchemaDroppedProp = "graft.schema.dropped"

  /** SAFE TYPE WIDENING (`ALTER TABLE ... ALTER COLUMN c TYPE t`) — the
    * third rename-forward-style mapping: the prop records each widened
    * column's TARGET type (`col>typeDDL;...`, keyed by current logical
    * name), nothing physical moves, and [[logicalView]] casts each
    * generation whose footer still carries the narrow type. New writes
    * arrive wide (the SQL schema reports the target, so the analyzer
    * casts inserts), and every rewrite emits the wide type — the
    * physical layout HEALS toward the logical schema and the per-
    * generation cast self-eliminates, exactly like the rename chain.
    * Only LOSSLESS promotions are accepted ([[widensTo]]: integral
    * up-casts, float→double, decimal scale-up that loses neither
    * integer digits nor scale); narrowing and cross-family changes are
    * loudly rejected — they would silently corrupt old rows at read.
    */
  val SchemaWidenedProp = "graft.schema.widened"

  /** column (current logical name) → recorded target type. */
  def widenedOf(m: Manifest): Seq[(String, org.apache.spark.sql.types.DataType)] =
    m.props.get(SchemaWidenedProp).map(_.split(';').toSeq.filter(_.nonEmpty)
      .map { s =>
        val i = s.indexOf('>')
        (s.substring(0, i),
          org.apache.spark.sql.types.DataType.fromDDL(s.substring(i + 1)))
      }).getOrElse(Nil)

  private def renderWidened(
      entries: Seq[(String, org.apache.spark.sql.types.DataType)]): String =
    entries.map { case (c, t) => s"$c>${t.sql}" }.mkString(";")

  /** Lossless promotions only — the set Iceberg guarantees plus decimal
    * scale-up (precision must grow with scale so no integer digit is
    * lost). Everything else (narrowing, string→numeric, int→float — the
    * LATTER loses exactness above 2^24) is rejected.
    */
  private[sources] def widensTo(from: org.apache.spark.sql.types.DataType,
                                to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale >= d1.scale &&
          d2.precision - d2.scale >= d1.precision - d1.scale &&
          (d2.scale > d1.scale || d2.precision > d1.precision)
      case _ => false
    }
  }

  /** `ALTER TABLE ... ALTER COLUMN name TYPE target` — one metadata
    * commit; old generations cast at read ([[logicalView]]), new writes
    * and rewrites carry the wide type physically. The partition column
    * (its rendered values ARE the directory names) and a hidden-
    * partitioning source (the transform hashes/derives at the recorded
    * type — `bucket` of the same value hashes differently at int vs
    * long) are rejected.
    */
  def widenColumn(spark: SparkSession, root: String, store: ManifestStore,
                  name: String,
                  target: org.apache.spark.sql.types.DataType): Long = ddlRetry {
    val m = readManifest(store).getOrElse(
      sys.error(s"no manifest at $root — not an AtomicCommit table"))
    require(!name.exists(c => c == '{' || c == '}' || c == ';' || c == '>'),
      s"bad column name for manifest props: $name")
    if (name == m.partitionCol) sys.error(
      s"graft: cannot retype partition column $name — its rendered " +
        "values name every partition directory")
    HiddenPartitioning.specOf(m).filter(_.source == name).foreach(spec =>
      sys.error(s"graft: cannot retype $name, the source column of the " +
        s"recorded partition transform ${spec.render} — the transform " +
        "derives at the recorded type"))
    val added = m.props.get(SchemaAddedProp)
      .map(org.apache.spark.sql.types.StructType.fromDDL)
    val inAdded = added.exists(_.exists(_.name == name))
    // the CURRENT logical type: what the table's readers see today —
    // footer type behind any recorded widening, or the added-column DDL
    val current: org.apache.spark.sql.types.DataType =
      if (inAdded) added.get.find(_.name == name).get.dataType
      else {
        val footerSchema = scanManifest(spark, root, m).schema
        footerSchema.find(_.name == name).map(_.dataType).getOrElse(
          sys.error(s"graft: no column $name at $root (columns: " +
            s"${(footerSchema.fieldNames ++
              added.toSeq.flatMap(_.fieldNames)).distinct.mkString(", ")})"))
      }
    if (current == target) sys.error(
      s"graft: column $name already has type ${target.sql} at $root")
    if (!widensTo(current, target)) sys.error(
      s"graft: cannot change $name from ${current.sql} to ${target.sql} — " +
        "only lossless widenings are supported (integral up-casts, " +
        "FLOAT to DOUBLE, DECIMAL scale-up); a lossy retype needs an " +
        "explicit rewrite (CTAS with a cast)")
    val props =
      if (inAdded)
        // no footer owns the column yet: the DDL record IS its type
        Map(SchemaAddedProp -> org.apache.spark.sql.types.StructType(
          added.get.fields.map(f =>
            if (f.name == name) f.copy(dataType = target) else f)).toDDL)
      else Map(SchemaWidenedProp -> renderWidened(
        widenedOf(m).filterNot(_._1 == name) :+ (name -> target)))
    propsCommit(root, store, props, Nil, guardVersion = Some(m.version))
  }

  /** The ordered rename chain, oldest first. */
  def renamesOf(m: Manifest): Seq[(String, String)] =
    m.props.get(SchemaRenamedProp).map(_.split(';').toSeq.filter(_.nonEmpty)
      .map { s =>
        val i = s.indexOf('>')
        (s.substring(0, i), s.substring(i + 1))
      }).getOrElse(Nil)

  /** Dropped columns, by CURRENT logical name. */
  def droppedOf(m: Manifest): Set[String] =
    m.props.get(SchemaDroppedProp)
      .map(_.split(';').filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  /** Any historical column name → its current logical name (identity for
    * names outside the chain; sound because rename targets are never
    * reused — see the column-mapping invariant above).
    */
  def currentName(m: Manifest, name: String): String =
    renamesOf(m).foldLeft(name) { case (cur, (o, n)) =>
      if (cur == o) n else cur
    }

  /** The logical view of ONE generation's physical frame: apply the
    * rename chain (a generation holds at most one name per chain link —
    * DDL validation forbids reuse), then exclude dropped columns. A
    * no-op Project-free identity on tables without mapping state.
    */
  private[graft] def logicalView(df: DataFrame, m: Manifest): DataFrame = {
    val renames = renamesOf(m)
    val dropped = droppedOf(m)
    val widened = widenedOf(m)
    if (renames.isEmpty && dropped.isEmpty && widened.isEmpty) return df
    var out = df
    renames.foreach { case (o, n) =>
      if (out.columns.contains(o)) out = out.withColumnRenamed(o, n)
    }
    // widening casts AFTER the chain (entries are keyed by current
    // logical names) and ONLY on generations still carrying the narrow
    // footer type — healed/new generations add no plan node
    widened.foreach { case (c, t) =>
      if (out.schema.exists(f => f.name == c && f.dataType != t))
        out = out.withColumn(c, org.apache.spark.sql.functions.col(c).cast(t))
    }
    val drops = out.columns.filter(dropped).toIndexedSeq
    if (drops.nonEmpty) out = out.drop(drops: _*)
    out
  }

  /** `ALTER TABLE ... RENAME COLUMN from TO to` — one metadata commit.
    * Constraints referencing `from` are REWRITTEN to `to` in the same
    * commit (they enforce against staged data, which carries logical
    * names). The partition column and a hidden-partitioning transform
    * source keep their names — both are baked into directory layouts.
    */
  def renameColumn(spark: SparkSession, root: String, store: ManifestStore,
                   from: String, to: String): Long = ddlRetry {
    val m = readManifest(store).getOrElse(
      sys.error(s"no manifest at $root — not an AtomicCommit table"))
    require(!to.exists(c => c == '{' || c == '}' || c == ';' || c == '>'),
      s"bad column name for manifest props: $to")
    validateMappingTarget(spark, root, m, to)
    if (from == m.partitionCol) sys.error(
      s"graft: cannot rename partition column $from — it names every " +
        "partition directory; repartition to a new column instead")
    HiddenPartitioning.specOf(m).filter(_.source == from).foreach(spec =>
      sys.error(s"graft: cannot rename $from, the source column of the " +
        s"recorded partition transform ${spec.render}"))
    val footerSchema = scanManifest(spark, root, m).schema
    val added = m.props.get(SchemaAddedProp)
      .map(org.apache.spark.sql.types.StructType.fromDDL)
    val inFooters = footerSchema.exists(_.name == from)
    val inAdded = added.exists(_.exists(_.name == from))
    if (!inFooters && !inAdded) sys.error(
      s"graft: no column $from at $root (columns: " +
        s"${(footerSchema.fieldNames ++
          added.toSeq.flatMap(_.fieldNames)).distinct.mkString(", ")})")
    var props = Map.empty[String, String]
    if (inFooters)
      props += SchemaRenamedProp ->
        (renamesOf(m).map { case (o, n) => s"$o>$n" } :+ s"$from>$to")
          .mkString(";")
    added.filter(_.exists(_.name == from)).foreach { a =>
      props += SchemaAddedProp -> org.apache.spark.sql.types.StructType(
        a.fields.map(f => if (f.name == from) f.copy(name = to) else f)).toDDL
    }
    // a widening entry follows its column's name (keyed by current
    // logical name — logicalView applies it after the chain)
    val widened = widenedOf(m)
    if (widened.exists(_._1 == from))
      props += SchemaWidenedProp -> renderWidened(
        widened.map { case (c, t) => (if (c == from) to else c, t) })
    props ++= rewriteConstraints(spark, m, from, to)
    propsCommit(root, store, props, Nil, guardVersion = Some(m.version))
  }

  /** `ALTER TABLE ... DROP COLUMN name` — one metadata commit; bytes stay
    * until their generations rewrite. Rejected while a CHECK constraint
    * references the column (enforcement would stop resolving).
    */
  def dropColumn(spark: SparkSession, root: String, store: ManifestStore,
                 name: String): Long = ddlRetry {
    val m = readManifest(store).getOrElse(
      sys.error(s"no manifest at $root — not an AtomicCommit table"))
    require(!name.exists(c => c == '{' || c == '}' || c == ';'),
      s"bad column name for manifest props: $name")
    if (name == m.partitionCol) sys.error(
      s"graft: cannot drop partition column $name")
    HiddenPartitioning.specOf(m).filter(_.source == name).foreach(spec =>
      sys.error(s"graft: cannot drop $name, the source column of the " +
        s"recorded partition transform ${spec.render}"))
    constraintsReferencing(spark, m, name).foreach { case (cn, sql) =>
      sys.error(s"graft: cannot drop $name — CHECK constraint $cn ($sql) " +
        "references it; DROP CONSTRAINT first")
    }
    val footerSchema = scanManifest(spark, root, m).schema
    val added = m.props.get(SchemaAddedProp)
      .map(org.apache.spark.sql.types.StructType.fromDDL)
    val inFooters = footerSchema.exists(_.name == name)
    val inAdded = added.exists(_.exists(_.name == name))
    if (!inFooters && !inAdded) sys.error(
      s"graft: no column $name at $root")
    if (footerSchema.count(_.name != name) +
        added.map(_.count(f => f.name != name &&
          !footerSchema.exists(_.name == f.name))).getOrElse(0) < 2)
      sys.error(s"graft: dropping $name would leave only the partition " +
        "column — a table needs data columns")
    var props = Map.empty[String, String]
    var drops = Seq.empty[String]
    if (inFooters)
      props += SchemaDroppedProp ->
        (droppedOf(m).toSeq.sorted :+ name).distinct.mkString(";")
    added.filter(_.exists(_.name == name)).foreach { a =>
      val rest = a.fields.filterNot(_.name == name)
      if (rest.nonEmpty)
        props += SchemaAddedProp ->
          org.apache.spark.sql.types.StructType(rest).toDDL
      else drops :+= SchemaAddedProp
    }
    // a dropped column's widening entry goes with it (the name may not
    // be recycled, so a stale entry could never apply — but a clean
    // mapping state is what the merge validator reasons over)
    val widened = widenedOf(m)
    if (widened.exists(_._1 == name)) {
      val rest = widened.filterNot(_._1 == name)
      if (rest.nonEmpty) props += SchemaWidenedProp -> renderWidened(rest)
      else drops :+= SchemaWidenedProp
    }
    propsCommit(root, store, props, drops, guardVersion = Some(m.version))
  }

  /** A rename target / re-added name must be globally fresh: not live,
    * not dropped, and never used on either side of the rename chain —
    * the closed set that keeps [[currentName]] unambiguous and prevents
    * old bytes resurrecting under a recycled name.
    */
  private[sources] def validateMappingTarget(spark: SparkSession,
                                             root: String, m: Manifest,
                                             to: String): Unit = {
    val live = scanManifest(spark, root, m).schema.fieldNames.toSet ++
      m.props.get(SchemaAddedProp)
        .map(org.apache.spark.sql.types.StructType.fromDDL(_)
          .fieldNames.toSet).getOrElse(Set.empty[String])
    val historic = renamesOf(m).flatMap { case (o, n) => Seq(o, n) }.toSet
    if (live(to)) sys.error(s"graft: column $to already exists at $root")
    if (droppedOf(m)(to)) sys.error(
      s"graft: $to names a DROPPED column at $root — old generations " +
        "still hold its bytes; pick a fresh name")
    if (historic(to)) sys.error(
      s"graft: $to appears in the rename history of $root — recycled " +
        "names would make historical evidence ambiguous; pick a fresh name")
  }

  /** Constraint expressions whose column references include `name`. */
  private def constraintsReferencing(spark: SparkSession, m: Manifest,
                                     name: String): Option[(String, String)] =
    m.props.collectFirst {
      case (k, v) if k.startsWith(ConstraintPrefix) &&
          exprReferences(spark, v, name) =>
        (k.stripPrefix(ConstraintPrefix), v)
    }

  /** Attribute-name equality under the SESSION'S resolution rules:
    * Spark resolves CHECK predicates case-insensitively unless
    * `spark.sql.caseSensitive` — so `CHECK (V > 0)` over column `v`
    * must be seen by rename/drop DDL, or a rename would strand an
    * unresolvable constraint that fails every later commit.
    */
  private def sameAttr(spark: SparkSession, a: String, b: String): Boolean =
    spark.sessionState.conf.resolver(a, b)

  private def exprReferences(spark: SparkSession, sql: String,
                             name: String): Boolean =
    spark.sessionState.sqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.size == 1 &&
            sameAttr(spark, a.nameParts.head, name) => a
    }.nonEmpty

  /** Re-render every constraint whose expression references `from` with
    * the reference renamed to `to` (parse → transform → SQL), returned
    * as the props entries to merge into the rename's commit.
    */
  private def rewriteConstraints(spark: SparkSession, m: Manifest,
                                 from: String, to: String)
      : Map[String, String] =
    m.props.collect {
      case (k, v) if k.startsWith(ConstraintPrefix) &&
          exprReferences(spark, v, from) =>
        k -> spark.sessionState.sqlParser.parseExpression(v).transform {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if a.nameParts.size == 1 &&
                sameAttr(spark, a.nameParts.head, from) =>
            org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute(Seq(to))
        }.sql
    }

  /** Marks an `ANALYZE TABLE` ([[DataSkipping.analyze]]) as a metadata
    * commit. The sidecars themselves are generation-addressed and need no
    * manifest change — the version bump exists because [[TableStats]]
    * caches per immutable snapshot, so the planner picks up the new
    * evidence exactly at this commit. The marker VALUE is qualified by
    * the version the analyze read: a re-ANALYZE of the same columns
    * after new data landed must move the marker (entries don't change on
    * a props-only commit, so the version qualifier is what invalidates
    * [[TableStats]]' snapshot-keyed caches). Sound because new sidecar
    * evidence only ever arrives with new generations, i.e. after a
    * version bump — two analyzes with NOTHING between them write nothing
    * ([[DataSkipping.analyze]] returns 0 and the caller skips this).
    */
  val StatsAnalyzedProp = "graft.stats.analyzed"

  /** Sort-order provenance, written by [[Compaction.recluster]]'s
    * publish: `<gen>:<col,col,...>` — generation `gen` was produced by
    * ONE range-distribute + sort-within-partitions job over
    * (partitionCol, cols...), so every data file it wrote is internally
    * sorted by `cols` and consecutive files of one partition cover
    * consecutive key ranges. The claim is GENERATION-QUALIFIED: it
    * holds for a snapshot only while every entry's sole data owner IS
    * that generation — any later append/rewrite/CoW-delete changes an
    * owner and silently retires the claim (position-bitmap MoR deletes
    * keep it: dropping rows preserves order). Consumed by
    * [[GraftBatchScan]]'s ordering report, which additionally verifies
    * the cross-file order and null-freeness against the generation's
    * stats sidecar before claiming anything.
    */
  val SortedByProp = "graft.sort.order"

  def recordAnalyzed(root: String, store: ManifestStore,
                     cols: Seq[String]): Long = {
    val cur = readManifest(store).getOrElse(
      sys.error(s"no manifest at $root — not an AtomicCommit table"))
    propsCommit(root, store,
      Map(StatsAnalyzedProp ->
        s"v${cur.version}:${cols.sorted.mkString(",")}"), Nil)
  }

  /** A metadata-only commit: no data staged, entries unchanged, props
    * merged (+`props`, −`propDrops`) atomically with the version bump.
    */
  private def propsCommit(root: String, store: ManifestStore,
                          props: Map[String, String],
                          propDrops: Seq[String],
                          guardVersion: Option[Long] = None): Long = {
    val cur = readManifest(store).getOrElse(
      sys.error(s"no manifest at $root — not an AtomicCommit table"))
    guardVersion.filter(_ != cur.version).foreach(v =>
      throw new PartitionConflictException(
        s"$root moved to v${cur.version} after this DDL read v$v — " +
          "recompute and retry"))
    casLoop(root, store,
      Staged("", cur.partitionCol, Nil, cur.version, Map.empty, props, Nil,
        propDrops),
      append = false, Set.empty, guardVersion).get
  }

  /** READ-MODIFY-WRITE retry for props whose VALUES derive from the
    * manifest they commit against (the rename chain, the dropped set,
    * the added-column DDL — whole-value props a racing writer would
    * otherwise clobber: [[casLoop]]'s retry re-merges the STAGED value,
    * which is stale the moment the CAS loses). `body` re-reads the
    * manifest, recomputes, and publishes guarded on the version it read
    * — any movement in the window aborts the attempt and `body` runs
    * again from the fresh snapshot.
    */
  private def ddlRetry[A](body: => A): A = {
    var last: Throwable = null
    var i = 0
    while (i < MaxPublishRetries) {
      try return body
      catch { case e: PartitionConflictException => last = e; i += 1 }
    }
    throw last
  }

  /** One commit-log row of [[history]]. `changedPartitions` is against
    * the previous ON-DISK version (None for the oldest retained one —
    * its predecessor may be vacuumed); `kind` classifies the commit from
    * its manifest delta: `replace`, `append`, `drop`, `mixed`,
    * `metadata` (props-only — tags, constraints, watermarks),
    * `rowdelete` (merge-on-read delete: deletion vectors changed, data
    * owners untouched — partitions the delete emptied drop alongside), or
    * `repartition` (partition column changed). Classification caveat: a
    * partition value ABSENT before the commit and present after it is
    * counted append-compatible (appends routinely create partitions), but
    * a replace that only creates new partition values produces the
    * identical manifest delta — the two are indistinguishable here, and
    * such commits read as `append`.
    */
  final case class CommitInfo(version: Long, partitionCol: String,
                              numPartitions: Int, kind: String,
                              changedPartitions: Option[Seq[String]],
                              props: Map[String, String])

  /** The readable commit log, oldest first — DESCRIBE HISTORY for
    * manifest tables, resolved entirely from on-disk manifests
    * (O(#versions × #partitions) driver metadata, no data I/O). Depth is
    * whatever [[vacuum]] retention (and tags) kept.
    */
  def history(root: String): Seq[CommitInfo] = history(posix(root), root)

  def history(store: ManifestStore, root: String): Seq[CommitInfo] = {
    val vs = versions(store)
    vs.map { v =>
      val m = manifestAt(store, root, v)
      val prevOpt =
        if (vs.contains(v - 1)) Some(manifestAt(store, root, v - 1)) else None
      val changed = prevOpt.map { p =>
        (p.entries.keySet ++ m.entries.keySet)
          .filter(k => p.entries.get(k) != m.entries.get(k)).toSeq.sorted
      }
      // the self-heal marker names the one version it created — a
      // read-triggered maintenance commit must be distinguishable from
      // an operator-initiated rewrite ("why did version N appear during
      // a SELECT"). Checked first: at the manifest level a heal is just
      // a rewrite/rowdelete shape, so the generic classifier below
      // cannot see it
      val kind = if (m.props.get(HealVersionProp).contains(v.toString)) "heal"
      else prevOpt match {
        case None => if (v == 1L) "replace" else "unknown-base"
        case Some(p) if p.partitionCol != m.partitionCol => "repartition"
        case Some(p) =>
          val keys = changed.get
          if (keys.isEmpty) "metadata"
          else {
            val dropped = keys.filter(k => !m.entries.contains(k))
            // data owners identical, deletion vector changed: rows were
            // marked deleted in place — the merge-on-read delete commit
            val dvOnly = keys.filter { k =>
              (p.entries.get(k), m.entries.get(k)) match {
                case (Some(old), Some(now)) =>
                  ownersOf(old) == ownersOf(now) && dvOf(old) != dvOf(now)
                case _ => false
              }
            }
            val appended = keys.filter { k =>
              (p.entries.get(k), m.entries.get(k)) match {
                case (Some(old), Some(now)) =>
                  dvOf(old) == dvOf(now) &&
                    ownersOf(now).startsWith(ownersOf(old)) &&
                    ownersOf(now).size > ownersOf(old).size
                // a brand-new partition is append-COMPATIBLE: publishAppend
                // commits landing in fresh partition values look exactly
                // like this, so counting it as a replace misreported every
                // new-partition append. The ambiguity is real (a replace
                // touching only new values is indistinguishable at the
                // manifest level) — see the CommitInfo docs.
                case (None, Some(_)) => true
                case _ => false
              }
            }
            if (dropped.size == keys.size) "drop"
            else if (dvOnly.nonEmpty && dvOnly.size + dropped.size == keys.size)
              "rowdelete" // MoR delete (emptied partitions drop alongside)
            else if (appended.size == keys.size) "append"
            else if (dropped.isEmpty && appended.isEmpty && dvOnly.isEmpty)
              "replace"
            else "mixed"
          }
      }
      CommitInfo(v, m.partitionCol, m.entries.size, kind, changed, m.props)
    }
  }

  /** The manifest of an on-disk version (fails with the readable-versions
    * list when vacuumed or never published) — the metadata walk a
    * change-feed consumer ([[graft.streaming.ChangeFeed]]) drives.
    */
  def manifestAt(store: ManifestStore, root: String,
                 version: Long): Manifest =
    store.get(manifestName(version)) match {
      case Some(bytes) => parseJson(new String(bytes, StandardCharsets.UTF_8))
      case None =>
        sys.error(s"no manifest v$version at $root — never published, or " +
          s"vacuumed (on disk: ${versions(store).mkString(", ")})")
    }

  /** VERBATIM-PARTITION parquet read: manifest tables key partitions by
    * their directory-encoded STRING value, so every read of them must
    * surface the partition column as that string — inference would read
    * `day=01` back as int 1, which both breaks lookups against manifest
    * keys and (since r13's partition evolution turns old partition
    * columns into stored data) could bake the inferred type into
    * rewritten files. The r13 implementation toggled the session-global
    * inference conf around the read, which RACED concurrent reads on
    * other threads of the same session (their inference could observe the
    * flipped value — nondeterministic partition typing in multi-threaded
    * drivers). Instead: probe ONE footer for the data schema and pass a
    * USER-SPECIFIED schema declaring the partition column as string —
    * Spark skips partition-type inference entirely when the schema is
    * supplied, so the read is verbatim with zero session-global state.
    * `paths` are partition directories (or individual data files — the
    * file-granular pruning form); `basePath` is the generation root the
    * partition column is derived against.
    */
  private[graft] def readVerbatim(spark: SparkSession, basePath: String,
                                  partitionCol: String,
                                  paths: Seq[String]): DataFrame = {
    val dataSchema = spark.read.parquet(probeParquet(paths)).schema
    val full = org.apache.spark.sql.types.StructType(
      dataSchema.fields.filterNot(_.name == partitionCol) :+
        org.apache.spark.sql.types.StructField(partitionCol,
          org.apache.spark.sql.types.StringType))
    spark.read.schema(full).option("basePath", basePath).parquet(paths: _*)
  }

  /** First parquet data file under `paths` (each a directory — searched
    * recursively, so both `part=v` leaves and whole-dataset roots work —
    * or a direct file path): the footer [[readVerbatim]] probes for the
    * data schema. Any file serves — a generation is written by one job,
    * so its files share a schema.
    */
  private[graft] def probeParquet(paths: Seq[String]): String =
    paths.iterator.flatMap { p =>
      if (p.endsWith(".parquet")) Iterator.single(p)
      else {
        val dir = Paths.get(p)
        if (!Files.isDirectory(dir)) Iterator.empty
        else {
          val s = Files.walk(dir)
          val found =
            try {
              val f = s.filter(f => f.toString.endsWith(".parquet") &&
                Files.isRegularFile(f)).findFirst()
              if (f.isPresent) Some(f.get.toString) else None
            } finally s.close()
          found.iterator
        }
      }
    }.nextOption().getOrElse(sys.error(
      s"no parquet data file under ${paths.take(3).mkString(", ")}"))

  private[graft] def scanManifest(spark: SparkSession, root: String,
                                  m: Manifest): DataFrame = {
    // unreachable through stage() (which rejects empty commits) — guards
    // hand-written manifests with a message instead of empty.reduce
    require(m.entries.nonEmpty,
      s"manifest v${m.version} at $root has no partition entries — nothing to read")
    // expand owner lists, then group by generation: one multi-path read
    // per generation, not per partition (driver work and file-listing
    // stay O(#generations))
    val byGen = m.entries.toSeq
      .flatMap { case (p, entry) => ownersOf(entry).map(_ -> p) }
      .groupBy(_._1).toSeq.sortBy(_._1)
    val ev = deleteEvidence(spark, root, m)
    val scan = byGen.map { case (gen, parts) =>
      val base = s"$root/$gen"
      val owned = parts.map(_._2).distinct
      // INDEX-BACKED fast path first: a generation carrying a file index
      // plans from driver metadata — zero directory listings (the
      // unpruned plan's remaining 5.8 s at 50k partitions was genuine
      // listing; on an object store, 50k LIST requests per cold query).
      // Absent/corrupt index, or an owned partition it doesn't cover:
      // the listing paths below decide, identical results.
      val read = GraftFileIndex.frameFor(spark, root, gen, m.partitionCol,
          owned.sorted.map(_ -> (None: Option[Seq[String]])))
        .getOrElse {
          // whole-generation fast path: when THIS manifest owns every
          // partition directory the generation holds (one shallow listing
          // to check), the generation ROOT replaces the per-partition path
          // list — Spark then discovers partitions in one parallelized
          // pass instead of the driver qualifying every explicit path
          // (measured ~2 ms/path: 10⁵ paths would put ~2 minutes of driver
          // time in front of every unpruned scan). A generation holding
          // superseded dirs this manifest no longer owns keeps the exact
          // path list — reading the root would resurrect replaced rows.
          val paths =
            if (wholeGenOwned(root, gen, m.partitionCol, owned)) Seq(base)
            else owned.sorted.map(v => s"$base/${m.partitionCol}=$v")
          readVerbatim(spark, base, m.partitionCol, paths)
        }
      // logical view BEFORE deletes: equality records arrive from
      // deleteEvidence already chain-translated to current names
      applyDeletes(logicalView(read, m), m.partitionCol, gen, ev)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    // ALTER-added columns no footer carries yet ([[SchemaAddedProp]])
    // NULL-backfill here, so EVERY face — Scala reads, SQL, deletes,
    // merge, compaction — agrees on the logical schema (a rewrite then
    // materializes the NULLs and the footers take type ownership)
    backfillAdded(scan, m)
  }

  /** The LOGICAL SCHEMA of [[scanManifest]] without its O(partitions)
    * path listing: the same composition (verbatim read → logical view →
    * delete application → added-column backfill → cross-generation
    * unionByName), built over a manifest REDUCED to one partition per
    * generation. Valid because a generation's files share one footer
    * schema (written by one job — the [[probeParquet]] invariant), so
    * WHICH of its partitions is probed cannot change the schema, while
    * keeping every generation keeps every evolution lineage in the
    * union. Planning instantiates relations — and therefore schemas —
    * several times per query; at 10⁴–10⁶ partitions the full
    * construction was THE dominant planning cost (measured 11 s of a
    * 13 s pruned single-partition read at 16M rows / 5,000 partitions —
    * `TableBench meta`; the reduced form is O(generations)).
    */
  private[graft] def scanSchema(spark: SparkSession, root: String,
                                m: Manifest): org.apache.spark.sql.types.StructType = {
    // memoized per (root, manifest CONTENT): the schema derives from
    // the generation set's footers (immutable per generation name — all
    // named in `entries`) and the mapping-state props, both part of
    // Manifest equality; branches sharing a root and a version number
    // still key apart by content. Saves the per-relation footer probe —
    // relations are instantiated several times per query's analysis
    if (schemaMemo.size > 64) schemaMemo.clear()
    schemaMemo.computeIfAbsent((root, m), _ => scanSchema0(spark, root, m))
  }

  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Manifest), org.apache.spark.sql.types.StructType]()

  private def scanSchema0(spark: SparkSession, root: String,
                          m: Manifest): org.apache.spark.sql.types.StructType = {
    val keep: Set[String] = m.entries.toSeq
      .flatMap { case (p, e) => ownersOf(e).map(_ -> p) }
      .groupBy(_._1).map { case (g, ps) =>
        // the first partition (sorted) whose directory actually holds a
        // data file — [[probeParquet]]'s own tolerance: a physically
        // emptied pruned directory must not break schema derivation
        // (the full construction iterated past it too). None with files
        // ⇒ keep the first anyway so the loud no-data error surfaces
        // exactly as the full scan's would
        val sorted = ps.iterator.map(_._2).toSeq.distinct.sorted
        sorted.find { v =>
          scala.util.Try(probeParquet(
            Seq(s"$root/$g/${m.partitionCol}=$v"))).isSuccess
        }.getOrElse(sorted.head)
      }.toSet
    scanManifest(spark, root,
      m.copy(entries = m.entries.filter { case (p, _) => keep(p) })).schema
  }

  /** Does the manifest own EVERY partition directory generation `gen`
    * holds on disk? One shallow listing; true enables [[scanManifest]]'s
    * whole-generation read. False on any extra dir (a superseded
    * partition a later REPLACE moved off this generation — its rows
    * must stay invisible) or an unlistable root.
    */
  private def wholeGenOwned(root: String, gen: String, pc: String,
                            owned: Seq[String]): Boolean = {
    val dir = Paths.get(root, gen)
    if (!Files.isDirectory(dir)) return false
    val prefix = s"$pc="
    val s = Files.list(dir)
    val onDisk = scala.collection.mutable.HashSet.empty[String]
    try {
      val it = s.iterator()
      while (it.hasNext) {
        val n = it.next().getFileName.toString
        if (n.startsWith(prefix)) onDisk += n.stripPrefix(prefix)
      }
    } finally s.close()
    onDisk == owned.toSet
  }

  private def backfillAdded(scan: DataFrame, m: Manifest): DataFrame =
    m.props.get(SchemaAddedProp)
      .map(org.apache.spark.sql.types.StructType.fromDDL)
      .fold(scan)(added => added.fields
        .filterNot(f => scan.columns.contains(f.name))
        .foldLeft(scan)((d, f) =>
          d.withColumn(f.name, lit(null).cast(f.dataType))))

  /** [[scanManifest]] over EXPLICIT per-generation path lists (partition
    * dirs or individual data files — [[DataSkipping.prunedScanPaths]]'
    * output): same logical view, delete application, and added-column
    * backfill; only WHICH bytes are listed differs. None when every
    * slice was pruned (the caller's empty-scan path applies).
    */
  private[sources] def scanPaths(spark: SparkSession, root: String,
                                 m: Manifest,
                                 byGen: Seq[(String, Seq[String])]): Option[DataFrame] = {
    if (byGen.isEmpty) return None
    val ev = deleteEvidence(spark, root, m)
    val scan = byGen.map { case (gen, paths) =>
      applyDeletes(logicalView(
          readSlices(spark, root, gen, m.partitionCol, paths), m),
        m.partitionCol, gen, ev)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    Some(backfillAdded(scan, m))
  }

  /** One generation's explicit-paths read, INDEX-BACKED when the file
    * index can serve it, live-listed otherwise — the shared leg under
    * [[scanPaths]] and every [[DataSkipping]] evidence-pruned scan
    * (readWhereAll, countWhere, readEq): identical rows either way; the
    * indexed form plans without qualifying or listing any directory.
    */
  private[sources] def readSlices(spark: SparkSession, root: String,
                                  gen: String, pc: String,
                                  paths: Seq[String]): DataFrame =
    indexedPathsFrame(spark, root, gen, pc, paths)
      .getOrElse(readVerbatim(spark, s"$root/$gen", pc, paths))

  /** [[GraftFileIndex.frameFor]] over [[DataSkipping.prunedScanPaths]]'
    * explicit path lists: each path is `$root/$gen/$pc=$pv` (whole
    * partition) or `$root/$gen/$pc=$pv/$file` (file-granular pruning).
    * Any other shape — or a file-granular request mixed with its own
    * whole-dir request — falls back to the listing read. A pv appearing
    * only through file paths reads exactly those files.
    */
  private def indexedPathsFrame(spark: SparkSession, root: String,
                                gen: String, pc: String,
                                paths: Seq[String]): Option[DataFrame] = {
    val prefix = s"$root/$gen/"
    val pcEq = s"$pc="
    val parsed = paths.map { p =>
      if (!p.startsWith(prefix)) return None
      p.stripPrefix(prefix).split('/') match {
        case Array(d) if d.startsWith(pcEq) =>
          (d.stripPrefix(pcEq), None: Option[String])
        case Array(d, f) if d.startsWith(pcEq) && f.endsWith(".parquet") =>
          (d.stripPrefix(pcEq), Some(f))
        case _ => return None
      }
    }
    // ANY repeated request — the same dir twice, the same file twice, or
    // a dir mixed with its own files — would read rows TWICE on the
    // listing path (spark.read.parquet duplicates repeated roots);
    // decline, as documented, rather than silently folding to a
    // different (deduplicated) answer. Unreachable from prunedScanPaths
    // (per-pv it emits either the dir or distinct files); the guard
    // keeps the equivalence contract honest for any future caller
    if (parsed.distinct.size != parsed.size) return None
    val wanted = parsed.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (pv, xs) =>
        val files = xs.map(_._2)
        if (files.contains(None) && files.exists(_.isDefined)) return None
        pv -> (if (files.contains(None)) None else Some(files.flatten.sorted))
      }
    GraftFileIndex.frameFor(spark, root, gen, pc, wanted)
  }

  /** The union of every deletion-vector generation the manifest's entries
    * reference, as `(__dv_partition, __dv_owner, __dv_file, __dv_pos)`
    * rows — None when the snapshot carries no DVs, so the common case
    * adds zero plan nodes. The union may hold STALE rows (a partition
    * re-vectored by a later delete leaves its old addresses in a DV
    * generation another partition still references): harmless, because
    * DVs only ACCUMULATE per partition until a rewrite clears them, so
    * the union is a superset whose extra rows either duplicate current
    * addresses or name (owner, file) pairs the owner filter in
    * [[applyDv]] screens out. A vector generation holding only equality
    * records carries no parquet and contributes no position rows.
    */
  private[sources] def dvFrame(spark: SparkSession, root: String,
                               m: Manifest): Option[DataFrame] = {
    val dvGens = m.entries.values.flatMap(dvOf).toSeq.distinct.sorted
      .filter(g => hasParquetFiles(s"$root/$g"))
    if (dvGens.isEmpty) None
    else Some(dvGens.map(g => spark.read.parquet(s"$root/$g"))
      .reduce(_.unionByName(_)))
  }

  private[sources] def hasParquetFiles(dir: String): Boolean = {
    val d = Paths.get(dir)
    Files.isDirectory(d) && {
      val s = Files.list(d)
      try s.anyMatch(p => p.toString.endsWith(".parquet"))
      finally s.close()
    }
  }

  /** One EQUALITY-delete record — the ZERO-read-I/O delete flavor
    * ([[Deletes.deleteKeysMoR]]): every row of `partition` whose `col`
    * value (compared as a rendered string; string/integral key columns
    * only) is in `values` is deleted — but ONLY rows living in the
    * `owners` generations recorded at delete time, so data appended
    * AFTER the delete re-inserts cleanly (Iceberg v2's sequence-number
    * rule, realized on owner-list membership). Stored as
    * `_graft_eq.jsonl` inside the partition's deletion-vector
    * generation, beside (or instead of) the position parquet.
    */
  final case class EqDelete(partition: String, col: String,
                            values: Seq[String], owners: Seq[String])

  val EqFile = "_graft_eq.jsonl"

  private[graft] def readEqs(root: String, gen: String): Seq[EqDelete] = {
    val p = Paths.get(root, gen, EqFile)
    if (!Files.exists(p)) return Nil
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split('\n').toSeq.map(_.trim).filter(_.nonEmpty).map { line =>
        def str(name: String): String =
          (s""""$name"\\s*:\\s*"((?:[^"\\\\]|\\\\.)*)"""").r
            .findFirstMatchIn(line).map(mm => unesc(mm.group(1)))
            .getOrElse(sys.error(s"bad eq record (no $name): $line"))
        val valuesBlob = """"values"\s*:\s*\[(.*)\]""".r.findFirstMatchIn(line)
          .map(_.group(1)).getOrElse(sys.error(s"bad eq record: $line"))
        val vals = """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(valuesBlob)
          .map(mm => unesc(mm.group(1))).toSeq
        EqDelete(str("partition"), str("col"),
          vals, str("owners").split(',').toSeq.filter(_.nonEmpty))
      }
  }

  private[sources] def writeEqs(genPath: String, eqs: Seq[EqDelete]): Unit = {
    if (eqs.isEmpty) return
    val body = eqs.sortBy(e => (e.partition, e.col))
      .map { e =>
        s"""{"partition":"${esc(e.partition)}","col":"${esc(e.col)}",""" +
          s""""owners":"${esc(e.owners.mkString(","))}",""" +
          s""""values":[${e.values.map(v => s""""${esc(v)}"""").mkString(",")}]}"""
      }.mkString("", "\n", "\n")
    Files.createDirectories(Paths.get(genPath))
    Files.write(Paths.get(genPath, EqFile),
      body.getBytes(StandardCharsets.UTF_8))
  }

  /** Everything a snapshot's merge-on-read deletes require at scan time:
    * the position evidence — preferably the compressed bitmaps
    * ([[DvBitmap.readSidecars]]: owner generation → (partition, file) →
    * bitmap, probed by a codegen'd filter), else the position frame
    * ([[dvFrame]], anti-joined) for tables whose vectors predate the
    * sidecar format — and the equality records, resolved per partition
    * from its CURRENT vector generation (exact — no staleness argument
    * needed on either the bitmap or the equality side).
    */
  final case class DeleteEvidence(
      positions: Option[DataFrame], eqs: Seq[EqDelete],
      bitmaps: Option[Map[String,
        Map[(UTF8String, UTF8String), DvBitmap.Bitmap]]]) {
    def isEmpty: Boolean =
      positions.isEmpty && eqs.isEmpty && bitmaps.forall(_.isEmpty)
  }

  private[sources] def deleteEvidence(spark: SparkSession, root: String,
                                      m: Manifest): DeleteEvidence = {
    val eqs = m.entries.toSeq.flatMap { case (p, e) =>
      dvOf(e).toSeq.flatMap(g => readEqs(root, g).filter(_.partition == p))
      // a record carries its DELETE-TIME column name; readers filter the
      // per-generation LOGICAL view, so follow the rename chain forward
    }.map(e => e.copy(col = currentName(m, e.col)))
    val bitmaps = DvBitmap.readSidecars(spark, root, m)
    // the frame is only planned (and its generations' footers only read)
    // when some vector predates the bitmap sidecar
    val positions = if (bitmaps.isDefined) None else dvFrame(spark, root, m)
    DeleteEvidence(positions, eqs, bitmaps)
  }

  /** [[applyDv]] plus the equality filters: for generation `gen`, the
    * applicable equality records fold into ONE codegen'd predicate
    * (null-keyed rows survive — a delete by value never matches null,
    * SQL semantics). Records sharing `(col, values)` — the normal shape,
    * since one [[Deletes.deleteKeysMoR]] call fans out to every admitted
    * partition — collapse into a single partition-IN term, so the plan
    * grows with the number of DELETE CALLS outstanding, never with the
    * partition count (200 chained per-partition filters measured 19×
    * slower on the 16M TableBench probe than this one-predicate form).
    */
  private[sources] def applyDeletes(df: DataFrame, partitionCol: String,
                                    gen: String,
                                    ev: DeleteEvidence): DataFrame = {
    val posApplied = ev.bitmaps match {
      case Some(bm) => bm.get(gen) match {
        case Some(sub) => applyDvBitmap(df, partitionCol, sub)
        case None => df // no position deletes against this generation
      }
      case None => applyDv(df, partitionCol, gen, ev.positions)
    }
    val applicable = ev.eqs.filter(_.owners.contains(gen))
    if (applicable.isEmpty) posApplied
    else {
      val terms = applicable.groupBy(e => (e.col, e.values)).toSeq
        .sortBy { case ((c, vs), _) => (c, vs.mkString("\u0000")) }
        .map { case ((c, vs), es) =>
          // record partitions are RAW entry keys; rows carry DECODED
          // values (the null partition's rows decode to null) — probe
          // through the escape or the record never applies there
          val parts = es.map(_.partition).distinct
          coalesce(
            !(GraftRelation.rawKeyProbe(col(partitionCol).cast("string"),
              parts) &&
              col(c).cast("string").isin(vs: _*)),
            lit(true))
        }
      posApplied.filter(terms.reduce(_ && _))
    }
  }

  /** MERGE-ON-READ: remove generation `gen`'s deleted rows from `df` by
    * anti-joining its slice of the deletion vectors on
    * (partition, file, row position) — positions come from the parquet
    * reader's `_metadata` columns, so the merge is one broadcast
    * anti-join over the rows already being scanned, no second pass. A DV
    * is small relative to its table (it is the delete set, and bulk
    * deletes belong to the copy-on-write path), so the broadcast is the
    * plan a 1000-executor cluster wants.
    */
  /** MERGE-ON-READ, bitmap-flavored: drop rows whose (partition, file,
    * position) the generation's deletion bitmaps mark. One codegen'd
    * [[DvKeep]] filter over the metadata columns already being scanned —
    * the scan keeps its shape (no join, no broadcast build), and what
    * ships to 1000 executors is the COMPRESSED delete evidence (8 KiB
    * per 65K-row chunk at worst) instead of a row per deleted row.
    */
  private[sources] def applyDvBitmap(df: DataFrame, partitionCol: String,
      sub: Map[(UTF8String, UTF8String), DvBitmap.Bitmap]): DataFrame =
    if (sub.isEmpty) df
    else df.filter(GraftBridge.column(DvKeep(sub,
      // the null partition probes as the SENTINEL (no decoded value can
      // collide with it): DvKeep is a null-intolerant ternary, so a raw
      // null here would null the filter and drop EVERY null-keyed row —
      // readSidecars keys the null partition's bitmaps the same way
      GraftBridge.expression(coalesce(col(partitionCol).cast("string"),
        lit(GraftRelation.NullPartitionName))),
      GraftBridge.expression(col("_metadata.file_name")),
      GraftBridge.expression(col("_metadata.row_index")))))

  private[sources] def applyDv(df: DataFrame, partitionCol: String,
                               gen: String, dv: Option[DataFrame]): DataFrame =
    dv match {
      case None => df
      case Some(d) =>
        val slice = d.filter(col("__dv_owner") === gen)
          .select("__dv_partition", "__dv_file", "__dv_pos")
        df.withColumn("__graft_f", col("_metadata.file_name"))
          .withColumn("__graft_pos", col("_metadata.row_index"))
          .join(broadcast(slice),
            // NULL-SAFE on the partition: the null partition's rows and
            // their recorded addresses both carry null — plain === would
            // never match and the deleted rows would resurrect
            (col(partitionCol).cast("string") <=> col("__dv_partition")) &&
              col("__graft_f") === col("__dv_file") &&
              col("__graft_pos") === col("__dv_pos"),
            "left_anti")
          .drop("__graft_f", "__graft_pos")
    }

  /** Manifest-level partition-pruned read: scan ONLY the generation
    * directories owning the requested partition values. Stronger than scan
    * PartitionFilters — untouched partition directories are never even
    * LISTED, so an incremental consumer's read cost is O(touched), not
    * O(table files). Values absent from the manifest are simply not read
    * (an upsert's brand-new partitions have no base rows by definition).
    */
  def readPartitions(spark: SparkSession, root: String,
                     values: Seq[String]): Option[DataFrame] =
    readPartitions(spark, root, posix(root), values)

  def readPartitions(spark: SparkSession, root: String, store: ManifestStore,
                     values: Seq[String]): Option[DataFrame] = {
    val m = readManifest(store).getOrElse(
      sys.error(s"no ${ManifestPrefix}N$ManifestSuffix at $root — not an AtomicCommit table"))
    readPartitions(spark, root, m, values)
  }

  /** [[readPartitions]] against an EXPLICIT snapshot — the form a
    * read-modify-write commit must use, so the manifest its scan resolved
    * is the same one its [[stage]] anchors the read set at (passing a
    * fresh-read manifest to stage while the data came from an older one
    * is the lost-update window the read-set check exists to close).
    */
  def readPartitions(spark: SparkSession, root: String, m: Manifest,
                     values: Seq[String]): Option[DataFrame] = {
    val want = values.toSet
    val owned = m.entries.filter { case (v, _) => want(v) }
    if (owned.isEmpty) return None
    Some(scanManifest(spark, root, m.copy(entries = owned)))
  }

  /** Default age a NEVER-REFERENCED generation (or manifest temp file)
    * must reach before [[vacuum]] treats it as a crash orphan rather than
    * another writer's in-flight stage: long enough to outlive any real
    * stage→publish gap.
    */
  val OrphanRetentionMillis: Long = 60L * 60 * 1000

  /** Drop generation directories no KEPT manifest references, manifest
    * versions older than the retention window, and aged-out orphans.
    * `keepVersions` is the time-travel horizon: the most recent N
    * snapshots stay fully readable (their manifests AND every generation
    * they reference survive); the default 1 keeps only the current one.
    * [[tag]]ged versions are ALWAYS kept, whatever the horizon — a tag is
    * the caller's explicit pin; [[untag]] releases it.
    * Unreferenced directories fall in two classes, because they carry
    * different evidence:
    *
    *  - A directory referenced by SOME on-disk manifest version but not
    *    the current one was definitely published and superseded — deleted
    *    now. Safe against readers only after their snapshots age out; the
    *    caller picks the vacuum moment, exactly as table-format vacuums do.
    *  - A directory referenced by NO manifest at all is EITHER a crashed
    *    writer's garbage OR a live writer's staged-but-unpublished
    *    phase-1 output — indistinguishable from here, so it is deleted
    *    only when older than `orphanAgeMillis` (mtime; Iceberg's
    *    orphan-file rule). [[publish]] still re-verifies its directory
    *    exists, so even a misjudged deletion aborts the commit rather than
    *    corrupting the table.
    *
    * Returns the deleted generation-directory names.
    */
  def vacuum(root: String,
             orphanAgeMillis: Long = OrphanRetentionMillis,
             keepVersions: Int = 1): Seq[String] =
    vacuum(root, posix(root), orphanAgeMillis, keepVersions)

  def vacuum(root: String, store: ManifestStore,
             orphanAgeMillis: Long): Seq[String] =
    vacuum(root, store, orphanAgeMillis, 1)

  def vacuum(root: String, store: ManifestStore, orphanAgeMillis: Long,
             keepVersions: Int): Seq[String] =
    vacuum(root, store, orphanAgeMillis, keepVersions, 0L)

  /** [[vacuum]] with a WALL-CLOCK retention window: `retainMillis > 0`
    * additionally keeps every snapshot whose commit stamp
    * ([[CommitWhenProp]]) falls within the last `retainMillis` — the
    * "time travel for the last N days" operating contract, composing
    * with (never narrowing) `keepVersions` and tag pinning. Versions
    * published before commit stamping have no stamp and sit outside any
    * time window; version-count and tag retention still protect them.
    */
  def vacuum(root: String, store: ManifestStore, orphanAgeMillis: Long,
             keepVersions: Int, retainMillis: Long): Seq[String] = store match {
    // branch awareness is a SAFETY property, not a convenience: a
    // single-view sweep cannot see generations other branches reference,
    // so any vacuum over a store holding branch namespaces (or over a
    // branch view itself) silently becomes the branched form
    case b: BranchStore =>
      vacuumBranched(root, b.underlying, orphanAgeMillis, keepVersions,
        retainMillis)
    case s if BranchStore.branches(s).nonEmpty =>
      vacuumBranched(root, s, orphanAgeMillis, keepVersions, retainMillis)
    case s => vacuumViews(root, s, Seq(s), orphanAgeMillis, keepVersions,
      retainMillis)
  }

  /** [[vacuum]] for a branched table: the kept/live sets union over MAIN
    * and every branch (each with its own retention window and tags), so
    * a generation survives while ANY lineage can still read it. Dropped
    * branches stop contributing and their unshared generations reclaim.
    */
  def vacuumBranched(root: String, store: ManifestStore,
                     orphanAgeMillis: Long = OrphanRetentionMillis,
                     keepVersions: Int = 1,
                     retainMillis: Long = 0L): Seq[String] =
    vacuumViews(root, store,
      store +: BranchStore.branches(store).map(new BranchStore(store, _)),
      orphanAgeMillis, keepVersions, retainMillis)

  private def vacuumViews(root: String, tempsStore: ManifestStore,
                          views: Seq[ManifestStore], orphanAgeMillis: Long,
                          keepVersions: Int,
                          retainMillis: Long = 0L): Seq[String] = {
    require(keepVersions >= 1, s"keepVersions=$keepVersions")
    def taggedOf(m: Manifest): Set[Long] = m.props.collect {
      case (k, v) if k.startsWith(TagPrefix) => v.toLong
    }.toSet
    val timeFloor =
      if (retainMillis > 0L) System.currentTimeMillis() - retainMillis
      else Long.MaxValue
    def keptByTime(s: ManifestStore, v: Long): Boolean =
      retainMillis > 0L &&
        commitTimeMillis(manifestAt(s, root, v)).exists(_ >= timeFloor)
    val active = views.flatMap(s => readManifest(s).map(s -> _))
    if (active.isEmpty) return Nil
    // kept snapshots per view: the retention window (version count and,
    // when asked, wall clock) PLUS every tagged version — a tag is an
    // explicit promise that its snapshot stays readable, so tagged
    // manifests and their generations outlive any horizon; a generation
    // survives while ANY view's kept set holds it
    val live = active.flatMap { case (s, m) =>
      val horizon = m.version - keepVersions + 1
      val tagged = taggedOf(m)
      versions(s).filter(v => v >= horizon || tagged(v) || keptByTime(s, v))
        .flatMap(v => manifestAt(s, root, v).entries.values.flatMap(allGensOf))
    }.toSet
    val rootPath = Paths.get(root)
    val children = Option(rootPath.toFile.listFiles).getOrElse(Array.empty)
    // every generation any on-disk manifest of any view references — the
    // union distinguishes "superseded" (was published) from "never
    // published" (maybe still in a writer's hands)
    val everReferenced = views.flatMap { s =>
      versions(s).flatMap { v =>
        try s.get(manifestName(v))
          .map(b => parseJson(new String(b, StandardCharsets.UTF_8))
            .entries.values.flatMap(allGensOf))
          .getOrElse(Nil)
        catch { case _: Throwable => Nil } // a torn manifest can't vouch
      }
    }.toSet
    val cutoff = System.currentTimeMillis() - math.max(0L, orphanAgeMillis)
    val doomed = children
      .filter { f =>
        f.isDirectory && f.getName.startsWith("g") && !live(f.getName) &&
          (everReferenced(f.getName) || f.lastModified() < cutoff)
      }
      .map(_.getName).toSeq.sorted
    // TOCTOU narrowing: between the live-set computation above and each
    // delete, a commit can make a doomed directory CURRENT again (a
    // rollback re-referencing it, a slow writer's publish whose existence
    // re-check passed just before we got here, or a fresh tag/branch) —
    // re-read every view's freshest manifest immediately before each
    // delete and spare anything referenced. The residual race (publish's
    // CAS landing between this read and the delete) is bounded by
    // `orphanAgeMillis`: a never-referenced directory is only doomed past
    // that age, so the caller's contract is that orphanAgeMillis EXCEEDS
    // any possible stage-to-publish gap (the default is an hour; a stage
    // held open longer must re-stage). publish's existence re-check then
    // turns a misjudged deletion into a loud abort, never a manifest
    // pointing at deleted data.
    val priorTagged = active.map { case (s, m) => taggedOf(m) }
      .foldLeft(Set.empty[Long])(_ ++ _)
    val deleted = doomed.filter { d =>
      val nowLive = views.flatMap { s =>
        readManifest(s).toSeq.flatMap { m =>
          m.entries.values.flatMap(allGensOf) ++
            (taggedOf(m) -- priorTagged).flatMap(v =>
              try manifestAt(s, root, v).entries.values.flatMap(allGensOf)
              catch { case _: Throwable => Nil })
        }
      }.toSet
      if (nowLive(d)) false
      else { deleteRecursively(rootPath.resolve(d)); true }
    }
    active.foreach { case (s, m) =>
      val horizon = m.version - keepVersions + 1
      val tagged = taggedOf(m)
      versions(s)
        .filter(v => v < horizon && !tagged(v) && !keptByTime(s, v))
        .foreach(v => s.delete(manifestName(v)))
    }
    tempsStore.vacuumTemps(cutoff)
    // decision objects of fully-resolved multi-table transactions (no
    // retained manifest of any recorded participant references them)
    Transactions.collectibleDecisions(tempsStore).foreach(tempsStore.delete)
    deleted
  }

  def readManifest(root: String): Option[Manifest] = readManifest(posix(root))

  /** The current COMMITTED snapshot: the freshest manifest, resolved
    * through any in-flight multi-table transaction ([[Transactions]]) —
    * a pending-committed head serves as-is; an undecided or aborted one
    * steps down to the version below, so readers get snapshot isolation
    * and never observe half a transaction.
    */
  def readManifest(store: ManifestStore): Option[Manifest] =
    readManifestRaw(store).flatMap(Transactions.resolveRead(store, _))

  /** The freshest manifest EXACTLY as stored, pending or not — the
    * commit protocol's own view ([[Transactions]], the publish CAS loop,
    * crash recovery). Everything user-facing wants [[readManifest]].
    */
  private[sources] def readManifestRaw(store: ManifestStore): Option[Manifest] =
    currentVersion(store).map { v =>
      parseJson(new String(store.get(manifestName(v)).getOrElse(
        sys.error(s"manifest v$v vanished between list and read")),
        StandardCharsets.UTF_8))
    }

  private[sources] def parseBody(bytes: Array[Byte]): Manifest =
    parseJson(new String(bytes, StandardCharsets.UTF_8))

  def currentVersion(root: String): Option[Long] = currentVersion(posix(root))

  def currentVersion(store: ManifestStore): Option[Long] = {
    val vs = store.list().flatMap(versionOf)
    if (vs.isEmpty) None else Some(vs.max)
  }

  private[sources] def manifestName(version: Long): String =
    f"$ManifestPrefix$version%08d$ManifestSuffix"

  private[sources] def versionOf(name: String): Option[Long] =
    if (name.startsWith(ManifestPrefix) && name.endsWith(ManifestSuffix))
      name.stripPrefix(ManifestPrefix).stripSuffix(ManifestSuffix)
        .toLongOption
    else None

  private def partitionDirs(gen: Path, partitionCol: String): Seq[String] = {
    val prefix = s"$partitionCol="
    Option(gen.toFile.listFiles).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(_.getName.stripPrefix(prefix)).toSeq.sorted
  }

  // hand-rolled JSON (build.sbt pins the dependency set): keys are
  // partition values and generation names — escape the two JSON-breaking
  // characters; control chars can't appear in either by construction
  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
  private[sources] def renderJson(m: Manifest): String = {
    def obj(kv: Map[String, String]): String = kv.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")
    // props BEFORE entries: the entries extractor below captures greedily
    // to the end of the document, so entries must stay the last field
    s"""{"version":${m.version},"partitionCol":"${esc(m.partitionCol)}",""" +
      s""""props":{${obj(m.props)}},"entries":{${obj(m.entries)}}}"""
  }
  /** Parse memo keyed by the manifest's EXACT text: manifests are
    * immutable per version, planning re-reads the current one several
    * times per query, and the regex parse is O(partitions) (~80 ms at
    * 50k entries — TableBench `meta`). Keying on content (not name or
    * version) is collision-free by construction and correct across
    * stores, branches, and vacuumed re-publishes; a hit costs one
    * String hash + equals (~2 ms at 50k), both O(bytes). Bounded small:
    * entries hold MB-scale keys.
    */
  private val parseMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Manifest]()

  private def parseJson(s: String): Manifest = {
    if (parseMemo.size > 16) parseMemo.clear()
    parseMemo.computeIfAbsent(s, parseJson0)
  }

  private def parseJson0(s: String): Manifest = {
    val version = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toLong).getOrElse(sys.error(s"bad manifest: $s"))
    val partitionCol = """"partitionCol"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      .findFirstMatchIn(s).map(m => unesc(m.group(1)))
      .getOrElse(sys.error(s"bad manifest: $s"))
    val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    def pairs(blob: String): Map[String, String] =
      entry.findAllMatchIn(blob)
        .map(m => unesc(m.group(1)) -> unesc(m.group(2))).toMap
    val entriesBlob = """"entries"\s*:\s*\{(.*)\}""".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse(sys.error(s"bad manifest: $s"))
    // props holds no nested braces (flat string pairs), so the lazy
    // bounded capture is exact; absent in pre-r12 manifests → empty
    val propsBlob = """"props"\s*:\s*\{([^{}]*)\}""".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("")
    Manifest(version, partitionCol, pairs(entriesBlob), pairs(propsBlob))
  }
  private def unesc(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
