package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression, ExprId, In, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{AtomicCommit, Deletes, GraftTable, Merge}

/** SQL ROW-LEVEL DML for graft catalog tables — the statements the
  * DSv2 bridge can't carry natively (or, for DELETE, only within the
  * V1 filter grammar):
  *
  * {{{
  * UPDATE graft.docs SET v = v + 1, status = 'hot' WHERE ts > ...
  * DELETE FROM graft.docs WHERE length(body) < 10 AND quality(v) < 0.2
  * MERGE INTO graft.docs t USING updates s ON t.k = s.k
  *   WHEN MATCHED AND s.op = 'del' THEN DELETE
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *
  *   WHEN NOT MATCHED BY SOURCE THEN UPDATE SET status = 'stale'
  * }}}
  *
  * Spark only executes UPDATE/MERGE against tables implementing
  * `SupportsRowLevelOperations`; for anything else the fully-ANALYZED
  * [[UpdateTable]]/[[MergeIntoTable]] plan survives to the planner and
  * dies there. This rule (a post-hoc resolution rule — after reference
  * resolution, before the planner) intercepts those plans when the
  * target is a [[GraftTable]] and lowers them onto the engine's own
  * machinery:
  *
  *  - UPDATE → partition-CoW: one pushdown-pruned pass finds the
  *    partitions holding matches (the WHERE travels the relation's own
  *    filter pruning — manifest keys, stats, hidden-partitioning
  *    transforms), then exactly those partitions rewrite with a
  *    codegen'd `CASE WHEN cond THEN new ELSE old` projection, in one
  *    commit anchored at the scanned snapshot.
  *  - MERGE → [[graft.sources.Merge]]: the analyzed clause actions map
  *    1:1 onto the builder's cascades (conditions and values have their
  *    resolved target/source attribute references re-addressed as
  *    `t.<col>` / `s.<col>` against the builder's join), so SQL MERGE
  *    and the Scala builder are ONE implementation.
  *
  * The ON condition must be a conjunction of target-column = source-
  * column equalities (the partition-discovery pass needs equi-keys);
  * anything else fails loudly at analysis, as does `BY SOURCE` against
  * an aliased sub-SELECT source whose columns collide after key
  * renaming.
  */
object GraftDmlRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private object GraftTarget {
    def unapply(plan: LogicalPlan): Option[(DataSourceV2Relation, GraftTable)] =
      plan match {
        case SubqueryAlias(_, child) => unapply(child)
        case r: DataSourceV2Relation => r.table match {
          case gt: GraftTable => Some((r, gt))
          case _ => None
        }
        case _ => None
      }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u @ UpdateTable(GraftTarget(rel, gt), assignments, condition)
        if u.resolved =>
      val sets = assignments.map {
        case Assignment(key: AttributeReference, value) => key.name -> value
        case other => sys.error(
          s"graft UPDATE supports top-level column assignments only, got $other")
      }
      GraftUpdateCommand(rel, gt, sets, condition)
    case m @ MergeIntoTable(GraftTarget(rel, gt), source, cond,
        matched, notMatched, notMatchedBySource, _)
        if m.resolved =>
      // WITH SCHEMA EVOLUTION needs no handling HERE: Spark's own
      // ResolveMergeIntoSchemaEvolution already computed the schema
      // changes and applied them through the catalog's alterTable
      // (graft's addColumnsAtomic / widenColumn) before this plan
      // resolved — `rel` is the reloaded, evolved table
      GraftMergeCommand(rel, gt, source, cond,
        matched, notMatched, notMatchedBySource)
    case d @ DeleteFromTable(GraftTarget(rel, gt), condition)
        if d.resolved =>
      GraftDeleteCommand(rel, gt, condition)
    case _ => plan
  }
}

/** Lowered `DELETE FROM graft.<t> WHERE ...` — the third DML verb,
  * routed BY PREDICATE SHAPE onto the engine's delete ladder so SQL
  * users get the same cost tiers the Scala API exposes:
  *
  *  - a predicate over the PARTITION COLUMN only → partition-CoW
  *    ([[Deletes.deleteWhere]]): matching partitions drop from the
  *    manifest outright (or rewrite, if partially matched) — no
  *    merge-on-read evidence left behind, the clean bulk shape;
  *  - a lone equality / IN on a string/integral column →
  *    [[Deletes.deleteKeysMoR]], the ZERO-SCAN equality delete
  *    (footer probe + bloom narrowing + one manifest CAS);
  *  - anything else — including resolved expressions BEYOND the V1
  *    filter grammar the [[graft.sources.GraftTable]] SupportsDelete
  *    face can carry (`length(s) > 4`, arithmetic, functions) →
  *    [[Deletes.deleteWhereMoR]], positions recorded by one matching
  *    scan, never a partition rewrite.
  *
  * `DELETE FROM t` with no (or a trivially-true) WHERE is refused like
  * TRUNCATE: the engine keeps tables non-empty by invariant.
  */
final case class GraftDeleteCommand(rel: DataSourceV2Relation, gt: GraftTable,
                                    condition: Expression)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Nil

  /** `col = lit` / `col IN (lits)` on an equality-delete-eligible column
    * (rendered-string comparison is exact for these types), all values
    * literal and non-null.
    */
  private def keyList: Option[(String, Seq[Any])] = {
    def eligible(a: AttributeReference): Boolean = a.dataType match {
      case StringType | LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    def value(l: Literal): Option[Any] = l.value match {
      case null => None
      case u: UTF8String => Some(u.toString)
      case v => Some(v)
    }
    condition match {
      case EqualTo(a: AttributeReference, l: Literal) if eligible(a) =>
        value(l).map(v => a.name -> Seq(v))
      case EqualTo(l: Literal, a: AttributeReference) if eligible(a) =>
        value(l).map(v => a.name -> Seq(v))
      case In(a: AttributeReference, ls) if eligible(a) && ls.nonEmpty &&
          ls.forall(_.isInstanceOf[Literal]) =>
        val vs = ls.map(l => value(l.asInstanceOf[Literal]))
        if (vs.forall(_.isDefined)) Some(a.name -> vs.flatten.toSeq) else None
      case _ => None
    }
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val relation = gt.underlying
    require(relation.pinned.isEmpty,
      "graft DELETE: a VERSION/TIMESTAMP AS OF view is an immutable snapshot")
    val store = relation.store
    val m = AtomicCommit.readManifest(store).getOrElse(
      sys.error(s"no manifest at ${relation.root} — not an AtomicCommit table"))
    condition match {
      case Literal(true, _) => sys.error(
        s"graft DELETE without a selective WHERE would empty ${relation.root} " +
          "— the engine keeps tables non-empty; INSERT OVERWRITE instead")
      case _ => ()
    }
    // re-address resolved target attributes by NAME so the predicate
    // applies to the engine's own scan plans
    def asCol(e: Expression): Column = GraftBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    })
    val refs = condition.references.toSeq.map(_.name).distinct
    if (refs.nonEmpty && refs.forall(_ == m.partitionCol))
      Deletes.deleteWhere(spark, relation.root, store, asCol(condition), Nil)
    else keyList match {
      case Some((c, vs)) =>
        Deletes.deleteKeysMoR(spark, relation.root, store, c, vs)
      case None =>
        Deletes.deleteWhereMoR(spark, relation.root, store, asCol(condition))
    }
    Nil
  }
}

/** Lowered `UPDATE graft.<t> SET ... [WHERE ...]`. */
final case class GraftUpdateCommand(rel: DataSourceV2Relation, gt: GraftTable,
                                    sets: Seq[(String, Expression)],
                                    condition: Option[Expression])
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Nil

  override def run(spark: SparkSession): Seq[Row] = {
    val relation = gt.underlying
    require(relation.pinned.isEmpty,
      "graft UPDATE: a VERSION/TIMESTAMP AS OF view is an immutable snapshot")
    val store = relation.store
    val m = AtomicCommit.readManifest(store).getOrElse(
      sys.error(s"no manifest at ${relation.root} — not an AtomicCommit table"))
    val pc = m.partitionCol
    sets.find(_._1 == pc).foreach(_ => sys.error(
      s"graft UPDATE: updating the partition column $pc would move rows " +
        "across partitions — DELETE and re-INSERT instead"))
    // hidden partitioning: updating the transform's SOURCE column would
    // leave the derived partition value stale — every later source-
    // predicate read would prune by the old key and silently miss rows
    graft.sources.HiddenPartitioning.specOf(m).foreach { spec =>
      sets.find(_._1 == spec.source).foreach(_ => sys.error(
        s"graft UPDATE: updating ${spec.source}, the source column of the " +
          s"recorded partition transform ${spec.render}, would leave the " +
          s"derived partition column $pc stale — DELETE and re-INSERT instead"))
    }
    val df = GraftBridge.ofRows(spark, rel)
    val condCol = condition.map(GraftBridge.column).getOrElse(lit(true))
    // phase 1: which partitions hold matching rows? The condition pushes
    // into the relation's own pruning (manifest keys, stats sidecars,
    // hidden-partitioning transforms) before any data reads
    val touched = df.where(condCol).select(col(pc)).distinct()
      .collect().map(_.get(0)).toSeq
    if (touched.isEmpty) return Nil // no match: no version burned
    // phase 2: rewrite exactly those partitions (isin pushes down and
    // prunes the manifest the same way)
    val slice = df.where(col(pc).isin(touched: _*))
    val updated = slice.select(rel.output.map { a =>
      sets.find(_._1 == a.name) match {
        case Some((_, value)) =>
          org.apache.spark.sql.functions
            .when(condCol, GraftBridge.column(value))
            .otherwise(GraftBridge.column(a)).as(a.name)
        case None => GraftBridge.column(a).as(a.name)
      }
    }: _*)
    val staged = AtomicCommit.stage(spark, relation.root, store, updated,
      pc, 1, Some(m))
    AtomicCommit.publish(relation.root, store, staged)
    Nil
  }
}

/** Lowered `MERGE INTO graft.<t> ... USING ... ON ...`. */
final case class GraftMergeCommand(rel: DataSourceV2Relation, gt: GraftTable,
                                   source: LogicalPlan, cond: Expression,
                                   matched: Seq[MergeAction],
                                   notMatched: Seq[MergeAction],
                                   notMatchedBySource: Seq[MergeAction])
  extends LeafRunnableCommand with PredicateHelper {

  override val output: Seq[Attribute] = Nil

  override def run(spark: SparkSession): Seq[Row] = {
    val relation = gt.underlying
    require(relation.pinned.isEmpty,
      "graft MERGE: a VERSION/TIMESTAMP AS OF view is an immutable snapshot")
    val tgtIds: Set[ExprId] = rel.output.map(_.exprId).toSet
    val srcIds: Set[ExprId] = source.output.map(_.exprId).toSet

    // ON: conjunction of t-col = s-col equalities → builder keys. Source
    // columns rename to their target partner's name first. The analyzer
    // wraps the narrower side of a mixed-type key equality in an implicit
    // widening Cast (e.g. an INT VALUES literal column against a BIGINT
    // target key); the builder's own t/s join re-derives that exact
    // coercion, so a lossless up-cast is transparent here — a LOSSY cast
    // (bigint ON int, string ON long) is not the builder's join and
    // still fails loudly.
    def keyAttr(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference => Some(a)
      case c: org.apache.spark.sql.catalyst.expressions.Cast =>
        c.child match {
          case a: AttributeReference
              if org.apache.spark.sql.catalyst.expressions.Cast
                .canUpCast(a.dataType, c.dataType) => Some(a)
          case _ => None
        }
      case _ => None
    }
    val keyPairs: Seq[(String, String)] = splitConjunctivePredicates(cond).map {
      eq => (eq match {
        case EqualTo(l, r) => (keyAttr(l), keyAttr(r)) match {
          case (Some(a), Some(b)) if tgtIds(a.exprId) && srcIds(b.exprId) =>
            Some((a.name, b.name))
          case (Some(b), Some(a)) if tgtIds(a.exprId) && srcIds(b.exprId) =>
            Some((a.name, b.name))
          case _ => None
        }
        case _ => None
      }).getOrElse(sys.error("graft MERGE: the ON condition must be a " +
        s"conjunction of target-column = source-column equalities, got $eq"))
    }
    val renames = keyPairs.filter { case (t, s) => t != s }
    renames.foreach { case (t, _) =>
      require(!source.output.exists(_.name == t),
        s"graft MERGE: renaming the source key to '$t' collides with an " +
          "existing source column — alias it in the USING sub-select")
    }
    val srcRenamed = source.output.map(a =>
      renames.find(_._2 == a.name).map(_._1).getOrElse(a.name))
    require(srcRenamed.distinct.size == srcRenamed.size,
      "graft MERGE: duplicate source column names after key renaming")
    val renamedOf: Map[ExprId, String] =
      source.output.zip(srcRenamed).map { case (a, n) => a.exprId -> n }.toMap

    /** Re-address a resolved clause expression against the builder's
      * t/s-aliased join.
      */
    def remap(e: Expression): Column = GraftBridge.column(e.transform {
      case a: AttributeReference if tgtIds(a.exprId) =>
        UnresolvedAttribute(Seq("t", a.name))
      case a: AttributeReference if srcIds(a.exprId) =>
        UnresolvedAttribute(Seq("s", renamedOf(a.exprId)))
    })

    def setsOf(assignments: Seq[Assignment]): Map[String, Column] =
      assignments.map {
        case Assignment(key: AttributeReference, value) =>
          key.name -> remap(value)
        case other => sys.error("graft MERGE: top-level column " +
          s"assignments only, got $other")
      }.toMap

    var srcDf = GraftBridge.ofRows(spark, source)
    renames.foreach { case (t, s) => srcDf = srcDf.withColumnRenamed(s, t) }

    val pc = AtomicCommit.readManifest(relation.store).map(_.partitionCol)
      .getOrElse(sys.error(s"no manifest at ${relation.root}"))
    /** The analyzer expands `UPDATE SET *` into explicit per-column
      * assignments — including the partition column, which the builder
      * rejects (a partition-moving update would stage-replace the
      * destination). `fromStar` identifies the expansion; star updates
      * take the builder's documented updateAll semantics (the row keeps
      * its own partition), while a HAND-WRITTEN `SET p = ...` still
      * fails loudly.
      */
    def starSafe(a: UpdateAction): Seq[Assignment] =
      if (a.fromStar) a.assignments.filterNot {
        case Assignment(key: AttributeReference, _) => key.name == pc
        case _ => false
      } else a.assignments

    var b = Merge.into(spark, relation.root, relation.store)
      .using(srcDf).onKeys(keyPairs.map(_._1): _*)
    matched.foreach {
      case a: UpdateAction => b = a.condition match {
        case Some(c) => b.whenMatchedUpdate(remap(c), setsOf(starSafe(a)))
        case None => b.whenMatchedUpdate(setsOf(starSafe(a)))
      }
      case UpdateStarAction(condOpt) => b = condOpt match {
        case Some(c) => b.whenMatchedUpdateAll(remap(c))
        case None => b.whenMatchedUpdateAll()
      }
      case a: DeleteAction => b = a.condition match {
        case Some(c) => b.whenMatchedDelete(remap(c))
        case None => b.whenMatchedDelete()
      }
      case other => sys.error(s"graft MERGE: unsupported WHEN MATCHED $other")
    }
    notMatched.foreach {
      case a: InsertAction => b = a.condition match {
        case Some(c) => b.whenNotMatchedInsert(remap(c), setsOf(a.assignments))
        case None => b.whenNotMatchedInsert(setsOf(a.assignments))
      }
      case InsertStarAction(condOpt) => b = condOpt match {
        case Some(c) => b.whenNotMatchedInsertAll(remap(c))
        case None => b.whenNotMatchedInsertAll()
      }
      case other => sys.error(s"graft MERGE: unsupported WHEN NOT MATCHED $other")
    }
    notMatchedBySource.foreach {
      case a: UpdateAction => b = a.condition match {
        case Some(c) => b.whenNotMatchedBySourceUpdate(remap(c), setsOf(a.assignments))
        case None => b.whenNotMatchedBySourceUpdate(setsOf(a.assignments))
      }
      case a: DeleteAction => b = a.condition match {
        case Some(c) => b.whenNotMatchedBySourceDelete(remap(c))
        case None => b.whenNotMatchedBySourceDelete()
      }
      case other =>
        sys.error(s"graft MERGE: unsupported WHEN NOT MATCHED BY SOURCE $other")
    }
    b.run()
    Nil
  }
}
