package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, Expression, IsNull, Literal, Not, Or, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateTable, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.{functions => F}

import graft.io.{FileStats, Manifest}

/**
 * SQL ROW-LEVEL DML over graft tables: `DELETE FROM` / `UPDATE` /
 * `MERGE INTO` — the other half of the analyst-facing SQL story
 * (round 9 taught the catalog `CREATE TABLE`/`INSERT`; the reference's
 * analysts live entirely in deploy-then-query SQL, reference
 * README.md:424-436, create_database_schema.py:4-8 — an analyst who
 * can INSERT will type DELETE the next day). Spark's own analysis
 * RESOLVES these statements over a V1 relation but has no execution
 * for them (row-level ops are a DSv2-only contract), so without this
 * rule every statement dies at planning with an unsupported-operation
 * error. The rule intercepts the resolved statement — the same
 * main-resolution-batch interception [[GraftInsertRule]] uses — and
 * rewrites it onto the Manifest's own commit machinery:
 *
 *  - **DELETE / UPDATE** take a COPY-ON-WRITE file-pruned path: the
 *    one file split ([[graft.io.FileStats.splitFiles]] — the same split
 *    the scan path and the library `Manifest.deleteRange` use) judges
 *    the pinned snapshot's partition values (exact, free — path
 *    strings, cast in the session time zone) and parquet footer bounds
 *    (fail-open), dividing the file list into files that MAY contain a
 *    matching row (rewritten) and files that provably cannot (carried
 *    into the new snapshot by reference — never opened, never copied).
 *    On a range-clustered 100 TB table a one-segment DELETE rewrites
 *    the segment, not the table.
 *  - **MERGE** is a full-snapshot rewrite (a merge's matches are
 *    data-driven; file bounds cannot scope them without the join): one
 *    full-outer join target⟗source, per-row first-applicable action,
 *    SQL-standard cardinality enforcement (a target row matching
 *    multiple source rows fails loudly — silently picking one is how
 *    merges corrupt dimensions), then one overwrite commit.
 *
 * Every path commits through the standard seq-keyed CAS — readers see
 * the pre- or post-DML snapshot, never a torn mix; time travel to the
 * pre-DML snapshot keeps working; and the statement re-verifies at
 * execution that the table head is still the snapshot it resolved
 * against (a concurrent commit fails the statement loudly instead of
 * silently basing a rewrite on stale state).
 *
 * Scope guards (all loud): DELETE/UPDATE conditions may carry
 * subqueries, CORRELATED included (round 12 — the condition plans as a
 * Filter over the pinned, file-restricted target plan with its
 * attribute ids intact, so outer references bind and Catalyst's
 * decorrelation turns the EXISTS/IN into the semi/anti join it is —
 * two steps past delta-spark's blanket refusal); UPDATE assignment
 * VALUES refuse correlation (a per-row correlated SET is a lateral
 * join); UPDATE assigns only top-level columns; a statement that
 * would empty the table entirely is refused (an empty snapshot is not
 * representable — overwrite or drop instead).
 */
object GraftDmlRule extends Rule[LogicalPlan] {

  /** Unwrap alias/view layers to a graft-backed relation: the table
    * dir plus the snapshot the statement resolved against. Anything
    * else (a projection, a join, a non-graft relation) is left for
    * Spark's own (refusing) machinery. */
  private[sources] object GraftTableDir {
    /** A projection is transparent for DML only when it is a TOTAL
      * pass-through of the child relation: every child column appears
      * exactly once, under its own name (case-insensitive), through at
      * most aliases/casts — the shape
      * [[graft.catalog.GraftCatalogReadRule]] wraps catalog reads in
      * (reorder + declared-type cast). Row identity is untouched and
      * no column is dropped or renamed, so DML through it stays DML on
      * the underlying table. A SUBSET or RENAMING view must NOT match:
      * its target.output would become the rewrite's column set, and a
      * COW rewrite through it would silently drop or rename every
      * other column of the touched files. */
    private def baseAttr(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference => Some(a)
      case al: org.apache.spark.sql.catalyst.expressions.Alias =>
        baseAttr(al.child)
      case c: Cast => baseAttr(c.child)
      case _ => None
    }

    private def totalPassThrough(
        p: org.apache.spark.sql.catalyst.plans.logical.Project): Boolean = {
      val bases = p.projectList.map(baseAttr)
      bases.forall(_.isDefined) &&
        p.projectList.size == p.child.output.size &&
        bases.flatten.map(_.exprId).distinct.size == p.child.output.size &&
        p.projectList.zip(bases.flatten).forall { case (out, b) =>
          out.name.equalsIgnoreCase(b.name)
        }
    }

    def unapply(plan: LogicalPlan): Option[(String, String)] = plan match {
      case SubqueryAlias(_, child) => unapply(child)
      case v: View => unapply(v.child)
      case p: org.apache.spark.sql.catalyst.plans.logical.Project
          if totalPassThrough(p) => unapply(p.child)
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location match {
          case idx: GraftFileIndex => Some((idx.tableDir, idx.snapshotId))
          case _ => None
        }
        case g: GraftMorRelation => Some((g.tableDir, g.snapshotId))
        // a declared-but-never-written catalog table: DML must resolve
        // (DELETE/UPDATE no-op; MERGE's inserts become the first
        // commit), not die with Spark's generic v2-only error. The
        // empty-string snapshot is the "empty at analysis" sentinel.
        case e: GraftEmptyRelation => Some((e.tableDir, ""))
        case _ => None
      }
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case d @ DeleteFromTable(GraftTableDir(dir, snap), cond)
        if d.table.resolved && cond.resolved =>
      GraftDeleteCommand(dir, snap, d.table, new Pinned(cond))

    case u @ UpdateTable(GraftTableDir(dir, snap), assignments, cond)
        if u.resolved =>
      assignments.foreach { a =>
        require(a.key.isInstanceOf[AttributeReference],
          s"graft UPDATE: only top-level columns can be assigned " +
            s"(got ${a.key.sql})")
      }
      GraftUpdateCommand(dir, snap, u.table, new Pinned(assignments),
        new Pinned(cond))

    case m @ MergeIntoTable(GraftTableDir(dir, snap), _, _, _, _, _, _)
        if m.resolved =>
      // WITH SCHEMA EVOLUTION (round 12): on a CATALOG table the
      // analyzer's ResolveMergeIntoSchemaEvolution has already driven
      // the catalog's ADD COLUMN evolution before the V1 swap (see
      // GraftCatalogReadRule), so a merge arriving here has nothing
      // left to evolve. A PATH-faced target has no catalog to record
      // the evolved contract — refuse the residual case (the statement
      // resolved but still wants changes, e.g. a type widening) rather
      // than silently ignoring declared evolution.
      require(!(m.schemaEvolutionEnabled &&
          scala.util.Try(m.needSchemaEvolution).getOrElse(false)),
        "graft MERGE: WITH SCHEMA EVOLUTION needs a graft CATALOG table " +
          "(the catalog records the evolved contract via ALTER TABLE; a " +
          "bare path read has nowhere to declare it) - or align the " +
          "source to the table schema explicitly")
      (m.matchedActions ++ m.notMatchedBySourceActions).foreach {
        case _: UpdateAction | _: DeleteAction => ()
        case other => throw new UnsupportedOperationException(
          s"graft MERGE: unsupported matched-side action $other")
      }
      m.notMatchedActions.foreach {
        case _: InsertAction => ()
        case other => throw new UnsupportedOperationException(
          s"graft MERGE: unsupported not-matched action $other")
      }
      GraftMergeCommand(dir, snap, m.targetTable, m.sourceTable,
        m.mergeCondition, m.matchedActions, m.notMatchedActions,
        m.notMatchedBySourceActions)
  }
}

/** Keeps a captured, fully-ANALYZED expression invisible to the outer
  * statement's optimizer: eager command execution optimizes the
  * command node itself, and `QueryPlan.expressions` walks constructor
  * products — so PullupCorrelatedPredicates would rewrite a captured
  * correlated SCALAR subquery into its decorrelated multi-column form
  * (grouping key appended to the output), which can no longer be
  * re-planted into a fresh Dataset (CheckAnalysis refuses a >1-column
  * scalar subquery). The commands re-plant the ORIGINAL analyzed form
  * and let the fresh frame's own analysis + optimization decorrelate
  * in place. */
private[sources] final class Pinned[+T](val value: T) extends Serializable

/** Shared plumbing for the three DML commands. */
private[sources] object GraftDmlExec {

  /** Current head, asserted to still be the snapshot the statement
    * resolved against. None = the statement resolved against a
    * DECLARED-BUT-EMPTY table (pinned == "") and the table is still
    * empty — DELETE/UPDATE no-op, MERGE starts from zero rows. */
  def headOrFail(spark: SparkSession, dir: String,
      pinned: String): Option[Manifest.ManifestData] = {
    (Manifest.head(spark, dir), pinned) match {
      case (None, "") => None
      case (Some(cur), "") =>
        throw new IllegalStateException(
          s"graft DML: table under $dir was empty when the statement was " +
            s"analyzed but now has head '${cur.snapshot}' - re-run the " +
            "statement")
      case (None, p) =>
        throw new IllegalStateException(
          s"graft DML: table under $dir lost its snapshots since the " +
            s"statement was analyzed (resolved against '$p')")
      case (Some(cur), p) =>
        require(cur.snapshot == p,
          s"graft DML: table under $dir moved since the statement was " +
            s"analyzed (head '${cur.snapshot}', resolved against '$p') - " +
            "re-run the statement")
        Some(cur)
    }
  }

  /** Re-bind a resolved expression by NAME for evaluation over a fresh
    * frame (the touched-file read has fresh attribute ids). Sound here
    * because DELETE/UPDATE have a single scope — the target table —
    * so names are unambiguous by construction.
    *
    * Spark 4's RuntimeReplaceable forms (BETWEEN et al.) carry a `With`
    * common-subexpression node whose tree-integrity hooks call
    * `dataType` on its defs — which the UnresolvedAttribute rewrite
    * below would break mid-transform (the captured conditions are
    * Pinned away from the statement optimizer, so ReplaceExpressions
    * has not eliminated them). Inline the refs first; the planted
    * frame's own optimizer re-derives any sharing. */
  def remapByName(e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{CommonExpressionRef, With}
    val inlined = e.transformUp {
      case w: With =>
        w.defs.foldLeft(w.child) { (acc, d) =>
          acc.transformUp {
            case r: CommonExpressionRef if r.id == d.id => d.child
          }
        }
    }
    inlined.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    }
  }

  /** The resolved target plan with its manifest file index restricted
    * to `touch` — SAME output attribute ids, only the listed files ever
    * read (MERGE's phase-2 trick, shared by the subquery DML paths so
    * correlated conditions keep binding without any re-resolution).
    * None when the plan carries no restrictable [[GraftFileIndex]]
    * (merge-on-read relation, declared-empty table) — the caller falls
    * back to the full plan. */
  def restrictPlan(spark: SparkSession, target: LogicalPlan,
      touch: Seq[String]): Option[LogicalPlan] = {
    var found = false
    val out = target.transform {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.relation.isInstanceOf[HadoopFsRelation] &&
            l.relation.asInstanceOf[HadoopFsRelation]
              .location.isInstanceOf[GraftFileIndex] =>
        val h = l.relation.asInstanceOf[HadoopFsRelation]
        val idx = h.location.asInstanceOf[GraftFileIndex]
        found = true
        l.copy(relation = h.copy(location = idx.restrictTo(touch))(spark))
    }
    if (found) Some(out) else None
  }

  /** Split the pinned (possibly file-restricted) target plan into
    * (hit, miss) on a condition that may carry SUBQUERIES — correlated
    * or not. The condition applies in PREDICATE position over the
    * ORIGINAL resolved plan (attribute ids preserved, so a correlated
    * EXISTS' outer references bind and Catalyst's own decorrelation
    * plans the semi/anti join; IN/NOT IN keep their null-aware
    * planning), and the complement is taken by a ROW-ID anti-join
    * (ADVICE r11: `exceptAll` refuses MapType columns and shuffles
    * every column both ways; the id join's build side carries eight
    * bytes per hit row). The tag is `monotonically_increasing_id` over
    * the pinned snapshot scan — stable across the two evaluations
    * because file-scan partitioning is planned deterministically from
    * the pinned file list, and the tag projects BELOW any shuffle. */
  def hitMissFrames(spark: SparkSession, plan: LogicalPlan,
      cond: Expression): (DataFrame, DataFrame) = {
    val rid = "__graft_rid"
    // MATERIALIZE the tagged rows, then the hit-id set (Delta's
    // merge-source materialization move, for two reasons): (1) the row
    // tag must be IDENTICAL across the hit and miss evaluations — a
    // checkpoint pins it instead of leaning on re-scan determinism;
    // (2) the hit/miss split is a self-join, and the analyzer's
    // relation dedup mangles a subquery shared across both sides
    // (stale attribute ids inside the decorrelated join) — after the
    // id-set checkpoint, neither join side carries the subquery at
    // all. Cost ∝ touched-file rows (spills to executor disk), which
    // the COW rewrite was going to materialize anyway.
    val base = Bridge.ofRows(spark, plan)
      .withColumn(rid, F.monotonically_increasing_id())
      .localCheckpoint()
    val hitIds = base.where(Bridge.columnOf(cond)).select(rid)
      .localCheckpoint()
    val hit = base.join(hitIds, Seq(rid), "left_semi")
    val miss = base.join(hitIds, Seq(rid), "left_anti")
    (hit, miss)
  }

  /** PRUNE-ONLY conjuncts derived from top-level uncorrelated
    * `col IN (subquery)` conjuncts of a DML condition — the constraint
    * push MERGE's sourceBoundsFilter performs, applied to the COW file
    * split: a matching row's col provably lies within [min, max] of
    * the subquery output (IN never matches NULL), so files outside the
    * bounds carry by reference instead of being rewritten. Pure
    * pruning — the rewrite re-evaluates the original condition — and
    * exact, so a carried file provably holds no match. One tiny agg
    * per subquery (the GDPR `DELETE WHERE key IN (SELECT …)` batch is
    * small by nature); anything unprovable contributes nothing. */
  def subqueryBoundConjuncts(spark: SparkSession,
      cond: Expression): Seq[Expression] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(cond).collect {
      case in: org.apache.spark.sql.catalyst.expressions.InSubquery
          if !in.query.isCorrelated && in.values.size == 1 &&
            in.values.head.isInstanceOf[AttributeReference] &&
            org.apache.spark.sql.catalyst.expressions.RowOrdering
              .isOrderable(in.values.head.dataType) =>
        (in.values.head.asInstanceOf[AttributeReference], in.query.plan)
    }.flatMap { case (a, plan) =>
      scala.util.Try {
        val out = plan.output.head
        val c = Bridge.columnOf(out)
        val row = Bridge.ofRows(spark, plan)
          .agg(F.min(c).as("__lo"), F.max(c).as("__hi")).collect().head
        if (row.isNullAt(0)) Nil // empty/all-null list: nothing to prune ON
        else Seq(
          org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(a,
            Literal.create(row.get(0), out.dataType)),
          org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(a,
            Literal.create(row.get(1), out.dataType)))
      }.getOrElse(Nil)
    }
  }

  /** Read the touched files (position deletes applied) and cast-align
    * to the TABLE schema: a touched SUBSET can recover a different
    * partition-column type than the full file list (e.g. {"9"} infers
    * long where {"9","x"} inferred string), and the rewritten rows
    * must re-land in the table's own type space. */
  def readTouched(spark: SparkSession, dir: String,
      touch: Seq[String], deleteFiles: Seq[String],
      tableAttrs: Seq[AttributeReference]): DataFrame = {
    // the TABLE schema drives the scan (user-specified schema, no
    // footer inference): files predating an ALTER TABLE ADD COLUMN
    // null-fill the new column inside the reader, and a mixed old/new
    // touched set cannot mis-infer from one sampled footer. Attribute
    // METADATA rides along — it carries the column-mapping physical
    // names a renamed column scans under.
    val hint = org.apache.spark.sql.types.StructType(tableAttrs.map(a =>
      org.apache.spark.sql.types.StructField(a.name, a.dataType,
        nullable = true, metadata = a.metadata)))
    val df = Manifest.readFilesApplyingDeletes(spark, dir, touch, deleteFiles,
      Some(hint))
    df.select(tableAttrs.map(a =>
      df.col(s"`${a.name}`").cast(a.dataType).as(a.name)): _*)
  }

  /** Is the table opted into MERGE-ON-READ DML (`graft.dml.mode = mor`
    * among its metadata properties — set via `TBLPROPERTIES` at CREATE
    * or `ALTER TABLE … SET TBLPROPERTIES`)? Under MOR, DELETE writes a
    * position list and UPDATE lands only the updated copies — the
    * touched data files never rewrite, so row-level DML on a 100 TB
    * table costs the changed rows, not the touched bytes. COW stays
    * the default: it keeps scans vectorized and needs no compaction
    * debt. */
  def morMode(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.catalog.GraftTableMeta.read(fsys, p)
      .exists(_.properties.get("graft.dml.mode")
        .exists(_.equalsIgnoreCase("mor")))
  }

  /** [[readTouched]] keeping the `_graft_file`/`_graft_pos` position
    * tags AND applying the snapshot's existing position deletes — the
    * LIVE rows a MOR DML judges its predicate on (already-deleted rows
    * must neither re-delete nor re-record in the change feed). */
  def readTouchedMeta(spark: SparkSession, dir: String,
      touch: Seq[String], deleteFiles: Seq[String],
      tableAttrs: Seq[AttributeReference]): DataFrame = {
    val hint = org.apache.spark.sql.types.StructType(tableAttrs.map(a =>
      org.apache.spark.sql.types.StructField(a.name, a.dataType,
        nullable = true, metadata = a.metadata)))
    val df = Manifest.readFilesMetaApplyingDeletes(spark, dir, touch,
      deleteFiles, Some(hint))
    df.select(tableAttrs.map(a =>
      df.col(s"`${a.name}`").cast(a.dataType).as(a.name)) ++
      Seq(df.col("_graft_file"), df.col("_graft_pos")): _*)
  }

  /** Test seam: runs after the statement computed its rewrite,
    * immediately before each commit-publish attempt — the window a
    * concurrent writer races into. */
  private[sources] var beforePublishHook: () => Unit = () => ()

  /** Commit the rewritten rows + carried files as one rewrite-flagged
    * snapshot, preserving the touched files' hive layout. A
    * predicate-scoped statement (DELETE/UPDATE, the file-pruned
    * MERGE) passes its pinned `base`, arming the manifest commit's
    * file-level conflict rebase: a concurrent commit that left the
    * touched files alone does not fail the statement. The
    * full-snapshot MERGE passes None — it read the whole table, so
    * every concurrent commit is a true conflict.
    * `inserts`: the statement adds rows (a MERGE with an INSERT
    * action), so the touched bytes do not bound what lands. */
  def commitRewrite(spark: SparkSession, dir: String, rewritten: DataFrame,
      touch: Seq[String], keep: Seq[String], deleteFiles: Seq[String],
      base: Option[Manifest.ManifestData] = None,
      cdc: Option[DataFrame] = None, inserts: Boolean = false): Unit = {
    val snap = s"dml${System.currentTimeMillis()}-" +
      java.util.UUID.randomUUID().toString.take(8)
    // layout from the touched files, falling back to the carried ones:
    // a zero-touch MERGE (inserts only) into a partitioned table must
    // still land its new files in the table's hive layout
    val partCols = GraftSource.uniformPartitionCols(
      if (touch.nonEmpty) touch else keep).getOrElse(Nil).toSeq
    // `rewrite` flags commits whose files re-pack pre-existing rows —
    // a zero-touch MERGE only ADDS files, so streams keep serving it.
    // `cdc` is the statement's row-level change record (changed rows +
    // `_change_type`), landed beside the data so the change feed can
    // serve this commit instead of refusing it
    // landing-size hint: a rewrite that adds no rows (DELETE, UPDATE,
    // a MERGE without INSERT) re-packs at most the touched files' rows,
    // so their on-disk byte sum bounds the commit — the stats estimate
    // of a join-derived plan over-counts by orders of magnitude. An
    // inserting MERGE can land far more than it touched, so it sizes
    // from plan stats (an over-estimate only keeps more files)
    val touchedBytes = if (touch.isEmpty || inserts) None
      else Manifest.filesBytes(spark, dir, touch).map(math.max(1L, _))
    Manifest.writeImpl(rewritten, dir, snap, beforePublishHook,
      carriedExplicit = Some(keep), partitionCols = partCols,
      deletesExplicit = Some(deleteFiles), rewrite = touch.nonEmpty,
      cowBase = base, cdc = cdc, landingBytes = touchedBytes)
    spark.catalog.refreshByPath(dir)
  }

  /** An empty post-DML table is unrepresentable (a snapshot must list
    * at least one file) — refuse loudly BEFORE committing. Only runs
    * when zero files are carried, so the extra `limit 1` job is paid
    * exactly on the full-rewrite shapes that could empty the table. */
  def refuseEmptyResult(rewritten: DataFrame, keep: Seq[String],
      stmt: String): Unit =
    if (keep.isEmpty) require(!rewritten.isEmpty,
      s"graft $stmt would remove every row of the table; an empty " +
        "snapshot is not representable - drop or overwrite the table instead")
}

/** `DELETE FROM t WHERE c`: keep-predicate rewrite of the touched
  * files (`NOT c` with SQL null semantics — a NULL condition KEEPS the
  * row, matching "delete only where c is TRUE"), untouched files
  * carried by reference.
  *
  * A condition carrying a SUBQUERY (correlated or not) takes the
  * hit/miss split instead: `hit = plan.where(c)` over the pinned
  * target plan with its file index RESTRICTED to the touched files —
  * same attribute ids, so a correlated EXISTS' outer references keep
  * binding and Catalyst decorrelates it into the semi-join it is —
  * and `kept` is the row-id anti-join complement
  * ([[GraftDmlExec.hitMissFrames]]). The reason for the split is
  * three-valued logic: IN/EXISTS subqueries are only null-aware in a
  * PREDICATE position (Spark's null-aware anti-join plans a top-level
  * `NOT IN` in a Filter correctly), while the keep-predicate's
  * `IsNull(c)` wrapper would force an ExistenceJoin whose boolean
  * output collapses UNKNOWN to false — silently deleting every row a
  * NULL-bearing `NOT IN` should keep. `where(c)` selects exactly the
  * TRUE rows (the SQL DELETE contract), and the id anti-join subtracts
  * that multiset. A target without a restrictable file index (pending
  * merge-on-read state) falls back to a full-snapshot rewrite —
  * correct, at the full-rewrite cost, until compaction purges it. */
case class GraftDeleteCommand(dir: String, pinned: String,
    target: LogicalPlan, condPinned: Pinned[Expression])
    extends LeafRunnableCommand
    // SupportsSubquery: CheckAnalysis only admits IN/EXISTS subqueries
    // under nodes that declare support — DeleteFromTable does, and this
    // command replaces it while still carrying its condition
    with org.apache.spark.sql.catalyst.plans.logical.SupportsSubquery {
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] =
    Seq(target)
  override def run(spark: SparkSession): Seq[Row] = {
    val cond = condPinned.value
    val cur = GraftDmlExec.headOrFail(spark, dir, pinned)
      .getOrElse(return Seq.empty) // still-empty table: nothing to delete
    val types = target.output.map(a => a.name -> a.dataType).toMap
    // IN-subquery bounds join the split condition (prune-only): files
    // outside [min, max] of the list carry by reference
    val splitCond = (cond +:
      GraftDmlExec.subqueryBoundConjuncts(spark, cond)).reduce(And)
    val (touch, keep) =
      FileStats.splitFiles(spark, dir, cur.files, splitCond, types)
    if (touch.nonEmpty) {
      val attrs = target.output.collect { case a: AttributeReference => a }
      val hasSubq = cond.exists(_.isInstanceOf[SubqueryExpression])
      if (!hasSubq && GraftDmlExec.morMode(spark, dir)) {
        // MERGE-ON-READ: write the matching rows' positions, never the
        // files — cost ∝ deleted rows. Subquery conditions keep the COW
        // path (their hit/miss machinery binds on the pinned plan,
        // which carries no position tags). Deleting every row is
        // REPRESENTABLE here (all positions dead), unlike COW's
        // empty-snapshot refusal. The checkpoint pins ONE evaluation
        // for both the position list and the change record.
        val metaDf = GraftDmlExec.readTouchedMeta(spark, dir, touch,
          cur.deleteFiles, attrs)
        val hits = metaDf.where(Bridge.columnOf(
          GraftDmlExec.remapByName(cond))).localCheckpoint()
        if (!hits.isEmpty) {
          val snap = s"dml${System.currentTimeMillis()}-" +
            java.util.UUID.randomUUID().toString.take(8)
          Manifest.deleteHitsMOR(spark,
            Manifest.landing(spark, dir, snap, lands = true), touch, hits,
            GraftDmlExec.beforePublishHook)
          spark.catalog.refreshByPath(dir)
        }
      } else if (hasSubq) {
        val (plan, touchEff, keepEff) =
          GraftDmlExec.restrictPlan(spark, target, touch) match {
            case Some(r) => (r, touch, keep)
            case None => (target, cur.files, Seq.empty[String])
          }
        val (hit, miss) = GraftDmlExec.hitMissFrames(spark, plan, cond)
        val out = attrs.map(a => Bridge.columnOf(a).as(a.name))
        val kept = miss.select(out: _*)
        GraftDmlExec.refuseEmptyResult(kept, keepEff, "DELETE")
        GraftDmlExec.commitRewrite(spark, dir, kept, touchEff, keepEff,
          cur.deleteFiles, base = Some(cur),
          // change record: the hit frame IS the deleted multiset
          cdc = Some(hit.select(out: _*)
            .withColumn(Manifest.CdfTypeCol, F.lit("delete"))))
      } else {
        val df = GraftDmlExec.readTouched(spark, dir, touch, cur.deleteFiles,
          attrs)
        val kept = df.where(Bridge.columnOf(
          GraftDmlExec.remapByName(Or(Not(cond), IsNull(cond)))))
        GraftDmlExec.refuseEmptyResult(kept, keep, "DELETE")
        GraftDmlExec.commitRewrite(spark, dir, kept, touch, keep,
          cur.deleteFiles, base = Some(cur),
          // change record: exactly the TRUE rows (the DELETE contract —
          // a NULL condition keeps the row, so it is not a change)
          cdc = Some(df.where(Bridge.columnOf(GraftDmlExec.remapByName(cond)))
            .withColumn(Manifest.CdfTypeCol, F.lit("delete"))))
      }
    }
    Seq.empty
  }
}

/** `UPDATE t SET a = e, … [WHERE c]`: per-column CASE WHEN rewrite of
  * the touched files; no rows are added or dropped, so no emptiness
  * guard. Unconditioned UPDATE rewrites every file. */
case class GraftUpdateCommand(dir: String, pinned: String,
    target: LogicalPlan, assignmentsPinned: Pinned[Seq[Assignment]],
    condPinned: Pinned[Option[Expression]]) extends LeafRunnableCommand
    with org.apache.spark.sql.catalyst.plans.logical.SupportsSubquery {
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] =
    Seq(target)
  override def run(spark: SparkSession): Seq[Row] = {
    val assignments = assignmentsPinned.value
    val cond = condPinned.value
    val cur = GraftDmlExec.headOrFail(spark, dir, pinned)
      .getOrElse(return Seq.empty) // still-empty table: nothing to update
    val types = target.output.map(a => a.name -> a.dataType).toMap
    val (touch, keep) = cond match {
      case Some(c) =>
        val splitCond = (c +:
          GraftDmlExec.subqueryBoundConjuncts(spark, c)).reduce(And)
        FileStats.splitFiles(spark, dir, cur.files, splitCond, types)
      case None => (cur.files, Nil)
    }
    if (touch.nonEmpty) {
      val attrs = target.output.collect { case a: AttributeReference => a }
      val byName = assignments.map(a =>
        a.key.asInstanceOf[AttributeReference].name -> a.value).toMap
      // subquery conditions (IN/EXISTS — correlated or not — and scalar)
      // must stay in PREDICATE position to keep null-aware planning and
      // outer-reference binding (see GraftDeleteCommand's scaladoc):
      // split hit/miss over the restricted pinned plan + row-id
      // anti-join. Subquery ASSIGNMENT values (round 13 — including a
      // CORRELATED `SET x = (SELECT … WHERE s.k = t.k)`) take the same
      // path: planted in PROJECT position over the hit frame, whose
      // attributes keep the pinned plan's ids (localCheckpoint
      // preserves output attributes), so outer references bind and
      // Catalyst's own decorrelation plans the lateral join — with the
      // scalar-subquery contract intact (no row → NULL, >1 row →
      // runtime error). The checkpointed hit/miss split also means the
      // assignment subquery appears on exactly ONE side, dodging the
      // analyzer-dedup trap the round-12 condition work hit.
      val predSubq =
        cond.exists(_.exists(_.isInstanceOf[SubqueryExpression])) ||
          assignments.exists(_.value.exists(_.isInstanceOf[SubqueryExpression]))
      if (predSubq) {
        val (plan, touchEff, keepEff) =
          GraftDmlExec.restrictPlan(spark, target, touch) match {
            case Some(r) => (r, touch, keep)
            case None => (target, cur.files, Seq.empty[String])
          }
        val (hit, miss) = GraftDmlExec.hitMissFrames(spark, plan,
          cond.getOrElse(Literal.TrueLiteral))
        // assignment values bind by attribute id (the plan kept them)
        val applied = hit.select(attrs.map { a =>
          byName.get(a.name) match {
            case Some(v) =>
              Bridge.columnOf(v).cast(a.dataType).as(a.name)
            case None => Bridge.columnOf(a).as(a.name)
          }
        }: _*)
        val updated = applied.unionByName(
          miss.select(attrs.map(a => Bridge.columnOf(a).as(a.name)): _*))
        // change record off the checkpointed hit frame: its rows before
        // and after the assignments (re-running `applied` for the cdc
        // write re-reads the checkpoint, not the table)
        val pre = hit.select(attrs.map(a => Bridge.columnOf(a).as(a.name)): _*)
        val cdc = pre.withColumn(Manifest.CdfTypeCol, F.lit("update_preimage"))
          .unionByName(applied.withColumn(Manifest.CdfTypeCol,
            F.lit("update_postimage")))
        GraftDmlExec.commitRewrite(spark, dir, updated, touchEff, keepEff,
          cur.deleteFiles, base = Some(cur), cdc = Some(cdc))
      } else if (GraftDmlExec.morMode(spark, dir)) {
        // MERGE-ON-READ UPDATE (the deletion-vector shape): land ONLY
        // the updated copies as new files and position-delete their
        // originals — cost ∝ updated rows, the touched files never
        // rewrite. The checkpoint pins ONE predicate evaluation for
        // positions, updated copies, and the change record (a
        // nondeterministic condition must not delete one row set and
        // re-insert another).
        val metaDf = GraftDmlExec.readTouchedMeta(spark, dir, touch,
          cur.deleteFiles, attrs)
        val condCol = cond.map(c =>
          Bridge.columnOf(GraftDmlExec.remapByName(c))).getOrElse(F.lit(true))
        val hits = metaDf.where(condCol).localCheckpoint()
        if (!hits.isEmpty) {
          val pre = hits.select(attrs.map(a =>
            hits.col(s"`${a.name}`").as(a.name)): _*)
          val post = hits.select(attrs.map { a =>
            byName.get(a.name) match {
              case Some(v) =>
                Bridge.columnOf(GraftDmlExec.remapByName(v))
                  .cast(a.dataType).as(a.name)
              case None => hits.col(s"`${a.name}`").as(a.name)
            }
          }: _*)
          val cdc = pre
            .withColumn(Manifest.CdfTypeCol, F.lit("update_preimage"))
            .unionByName(post.withColumn(Manifest.CdfTypeCol,
              F.lit("update_postimage")))
          val snap = s"dml${System.currentTimeMillis()}-" +
            java.util.UUID.randomUUID().toString.take(8)
          Manifest.updateHitsMOR(spark, dir, snap, hits, post, cdc,
            GraftSource.uniformPartitionCols(touch).getOrElse(Nil).toSeq,
            GraftDmlExec.beforePublishHook)
          spark.catalog.refreshByPath(dir)
        }
      } else {
        val df = GraftDmlExec.readTouched(spark, dir, touch, cur.deleteFiles,
          attrs)
        val condCol = cond.map(c =>
          Bridge.columnOf(GraftDmlExec.remapByName(c))).getOrElse(F.lit(true))
        val updated = df.select(attrs.map { a =>
          byName.get(a.name) match {
            case Some(v) =>
              F.when(condCol, Bridge.columnOf(GraftDmlExec.remapByName(v))
                .cast(a.dataType)).otherwise(df.col(s"`${a.name}`")).as(a.name)
            case None => df.col(s"`${a.name}`")
          }
        }: _*)
        // change record: condition-TRUE rows before/after the
        // assignments (a NULL/false condition leaves the row — no change)
        val hitRows = df.where(condCol)
        val post = hitRows.select(attrs.map { a =>
          byName.get(a.name) match {
            case Some(v) =>
              Bridge.columnOf(GraftDmlExec.remapByName(v))
                .cast(a.dataType).as(a.name)
            case None => hitRows.col(s"`${a.name}`")
          }
        }: _*)
        val cdc = hitRows
          .select(attrs.map(a => hitRows.col(s"`${a.name}`")): _*)
          .withColumn(Manifest.CdfTypeCol, F.lit("update_preimage"))
          .unionByName(post.withColumn(Manifest.CdfTypeCol,
            F.lit("update_postimage")))
        GraftDmlExec.commitRewrite(spark, dir, updated, touch, keep,
          cur.deleteFiles, base = Some(cur), cdc = Some(cdc))
      }
    }
    Seq.empty
  }
}

/** `MERGE INTO t USING s ON cond WHEN …` — Delta's two-phase
  * touched-file shape:
  *
  *  1. **Find touched files**: one inner join source→target over the
  *     pinned snapshot projects each matching row's
  *     `_metadata.file_path`; the distinct set (∝ touched files, never
  *     rows) is the ONLY part of the table the merge rewrites. A
  *     1,000-row daily upsert into a 100 TB table rewrites the files
  *     holding those 1,000 keys — not the table.
  *  2. **Rewrite**: the SAME resolved target plan, with its manifest
  *     [[GraftFileIndex]] swapped for one restricted to the touched
  *     files (identical attribute ids — every action expression keeps
  *     binding), full-outer-joins the source; per-row first-applicable
  *     action, SQL-standard cardinality enforcement (now paid on the
  *     PRUNED join only), not-matched inserts land as new files, and
  *     the untouched files ride into the new snapshot by reference.
  *     The commit declares the pinned snapshot as its `cowBase`, so
  *     two MERGEs over disjoint files rebase instead of conflicting
  *     (WriteSerializable: a concurrent append's rows are not
  *     re-judged by this merge's join).
  *
  * Phase 1 is sound only when unmatched target rows pass through
  * untouched, so a statement with `WHEN NOT MATCHED BY SOURCE` actions
  * — or a target whose file provenance is invisible (merge-on-read
  * delete state pending compaction) — falls back to the full-snapshot
  * rewrite (correct, pre-round-11 shape; every concurrent commit is
  * then a true conflict). The pinned target/source PLANS execute as
  * resolved — every action expression keeps its attribute ids, so
  * target/source name collisions (the norm in a merge: `ON t.k = s.k`)
  * bind correctly with zero re-resolution. */
case class GraftMergeCommand(dir: String, pinned: String,
    target: LogicalPlan, source: LogicalPlan, mergeCond: Expression,
    matchedActions: Seq[MergeAction], notMatchedActions: Seq[MergeAction],
    notMatchedBySourceActions: Seq[MergeAction])
    extends LeafRunnableCommand
    with org.apache.spark.sql.catalyst.plans.logical.SupportsSubquery {
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] =
    Seq(target, source)

  private def condCol(c: Option[Expression]) =
    c.map(Bridge.columnOf).getOrElse(F.lit(true))

  /** 1-based index of the first action whose condition holds; 0 = none. */
  private def actionIdx(actions: Seq[MergeAction]) =
    actions.zipWithIndex.foldRight(F.lit(0)) { case ((a, i), acc) =>
      F.when(condCol(a.condition), F.lit(i + 1)).otherwise(acc)
    }

  private def keyMatches(a: AttributeReference)(asg: Assignment): Boolean =
    asg.key match {
      case k: AttributeReference =>
        k.exprId == a.exprId || k.name.equalsIgnoreCase(a.name)
      case _ => false
    }

  /** Target-side branch (matched / not-matched-by-source): apply the
    * first applicable UPDATE's assignments, drop rows whose first
    * applicable action is DELETE, pass rows with no applicable action
    * through unchanged. */
  private def transformTargetRows(df: DataFrame,
      attrs: Seq[AttributeReference], actions: Seq[MergeAction]): DataFrame = {
    val out = attrs.map(a => Bridge.columnOf(a).as(a.name))
    if (actions.isEmpty) return df.select(out: _*)
    val withIdx = df.withColumn("__graft_act", actionIdx(actions))
    val deleteIdxs = actions.zipWithIndex.collect {
      case (_: DeleteAction, i) => i + 1
    }
    val kept =
      if (deleteIdxs.isEmpty) withIdx
      else withIdx.where(!F.col("__graft_act")
        .isin(deleteIdxs.map(Integer.valueOf): _*))
    val projected = attrs.map { a =>
      actions.zipWithIndex.foldLeft(Bridge.columnOf(a)) {
        case (acc, (u: UpdateAction, i)) =>
          u.assignments.find(keyMatches(a)).map(asg =>
            F.when(F.col("__graft_act") === (i + 1),
              Bridge.columnOf(asg.value).cast(a.dataType)).otherwise(acc))
            .getOrElse(acc)
        case (acc, _) => acc
      }.as(a.name)
    }
    kept.select(projected: _*)
  }

  /** The CHANGE RECORD of a target-side branch: rows whose first
    * applicable action is a DELETE as `delete`, rows whose first
    * applicable action is an UPDATE as an `update_preimage` /
    * `update_postimage` pair (same projection fold as
    * [[transformTargetRows]]); act-0 pass-through rows change nothing
    * and record nothing. None when the branch has no actions. */
  private def cdcTargetRows(df: DataFrame,
      attrs: Seq[AttributeReference],
      actions: Seq[MergeAction]): Option[DataFrame] = {
    if (actions.isEmpty) return None
    val withIdx = df.withColumn("__graft_act", actionIdx(actions))
    val pre = attrs.map(a => Bridge.columnOf(a).as(a.name))
    val deleteIdxs = actions.zipWithIndex.collect {
      case (_: DeleteAction, i) => i + 1
    }
    val updateIdxs = actions.zipWithIndex.collect {
      case (_: UpdateAction, i) => i + 1
    }
    val dels =
      if (deleteIdxs.isEmpty) None
      else Some(withIdx.where(F.col("__graft_act")
          .isin(deleteIdxs.map(Integer.valueOf): _*))
        .select(pre: _*)
        .withColumn(Manifest.CdfTypeCol, F.lit("delete")))
    val upds =
      if (updateIdxs.isEmpty) None
      else {
        val u = withIdx.where(F.col("__graft_act")
          .isin(updateIdxs.map(Integer.valueOf): _*))
        val post = attrs.map { a =>
          actions.zipWithIndex.foldLeft(Bridge.columnOf(a)) {
            case (acc, (up: UpdateAction, i)) =>
              up.assignments.find(keyMatches(a)).map(asg =>
                F.when(F.col("__graft_act") === (i + 1),
                  Bridge.columnOf(asg.value).cast(a.dataType)).otherwise(acc))
                .getOrElse(acc)
            case (acc, _) => acc
          }.as(a.name)
        }
        Some(u.select(pre: _*)
          .withColumn(Manifest.CdfTypeCol, F.lit("update_preimage"))
          .unionByName(u.select(post: _*)
            .withColumn(Manifest.CdfTypeCol, F.lit("update_postimage"))))
      }
    (dels.toSeq ++ upds.toSeq).reduceOption(_.unionByName(_))
  }

  /** Source-side branch: rows matching no target row insert through the
    * first applicable INSERT action (unassigned columns NULL-fill);
    * rows with no applicable action are dropped. */
  private def insertRows(df: DataFrame,
      attrs: Seq[AttributeReference], actions: Seq[MergeAction]): DataFrame = {
    if (actions.isEmpty)
      return df.select(attrs.map(a =>
        F.lit(null).cast(a.dataType).as(a.name)): _*).limit(0)
    val withIdx = df.withColumn("__graft_act", actionIdx(actions))
      .where(F.col("__graft_act") > 0)
    val projected = attrs.map { a =>
      actions.zipWithIndex.foldLeft(F.lit(null).cast(a.dataType)) {
        case (acc, (ins: InsertAction, i)) =>
          ins.assignments.find(keyMatches(a)).map(asg =>
            F.when(F.col("__graft_act") === (i + 1),
              Bridge.columnOf(asg.value).cast(a.dataType)).otherwise(acc))
            .getOrElse(acc)
        case (acc, _) => acc
      }.as(a.name)
    }
    withIdx.select(projected: _*)
  }

  /** Unwrap alias/view layers WITHOUT changing the output attribute
    * set — the frame phase 1 selects `_metadata` on (a View wrapper
    * hides metadata columns; its child exposes them). */
  private def stripWrappers(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, c) => stripWrappers(c)
    case v: View => stripWrappers(v.child)
    case other => other
  }

  /** SOURCE-BOUNDS derivation (Delta's min/max constraint push): for
    * every equi-conjunct `t.col = <source expr>` of the merge
    * condition, a matching target row's value provably lies within
    * [min, max] of that expression over the WHOLE source (equality
    * never matches NULL), so the touched-file scan can pre-filter on
    * `t.col BETWEEN min AND max` — which the manifest file index turns
    * into a FOOTER-BOUNDS file prune. On a range-clustered 100 TB
    * table with a narrow daily batch, phase 1 then opens only the
    * overlapping files instead of scanning the table. One tiny agg
    * job over the (persisted) source; an empty/all-null source yields
    * `false` (nothing can match). Pure pruning — the join re-checks
    * the full condition — but the bound itself is exact, so a dropped
    * file provably holds no match. */
  private def sourceBoundsFilter(
      src: DataFrame): Option[org.apache.spark.sql.Column] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val srcOut = org.apache.spark.sql.catalyst.expressions.AttributeSet(
      source.output)
    val tgtOut = org.apache.spark.sql.catalyst.expressions.AttributeSet(
      target.output)
    def orderable(dt: org.apache.spark.sql.types.DataType): Boolean =
      org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(dt)
    val pairs = conjuncts(mergeCond).collect {
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          t: AttributeReference, s)
          if tgtOut.contains(t) && s.references.subsetOf(srcOut) &&
            s.deterministic && orderable(t.dataType) => (t, s)
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          s, t: AttributeReference)
          if tgtOut.contains(t) && s.references.subsetOf(srcOut) &&
            s.deterministic && orderable(t.dataType) => (t, s)
    }
    if (pairs.isEmpty) return None
    scala.util.Try {
      val aggs = pairs.zipWithIndex.flatMap { case ((_, s), i) =>
        val c = Bridge.columnOf(s)
        Seq(F.min(c).as(s"__lo$i"), F.max(c).as(s"__hi$i"))
      }
      val row = src.agg(aggs.head, aggs.tail: _*).collect().head
      val filters = pairs.zipWithIndex.map { case ((t, _), i) =>
        if (row.isNullAt(2 * i)) F.lit(false) // empty source: no match
        else Bridge.columnOf(t).between(
          F.lit(row.get(2 * i)), F.lit(row.get(2 * i + 1)))
      }
      filters.reduce(_ && _)
    }.toOption
  }

  /** Phase 1: the distinct manifest-relative paths of pinned-snapshot
    * files holding at least one row matching some source row (Delta's
    * findTouchedFiles). None = provenance is unavailable on this plan
    * shape (MOR relation, metadata-hiding wrapper, or an unmappable
    * scan path) — the caller falls back to the full rewrite. ∝ touched
    * FILE count on the driver, never rows. */
  private def findTouched(spark: SparkSession,
      src: DataFrame): Option[Seq[String]] = {
    val stripped = stripWrappers(target)
    if (!target.output.forall(stripped.outputSet.contains)) return None
    val withFile = scala.util.Try {
      val base = Bridge.ofRows(spark, stripped)
      sourceBoundsFilter(src).fold(base)(base.where)
        .select(F.col("*"), F.col("_metadata.file_path").as("__graft_fp"))
    }.toOption
    withFile.flatMap { tf =>
      val paths = tf.join(src, Bridge.columnOf(mergeCond), "inner")
        .select(F.col("__graft_fp")).distinct()
        .collect().map(_.getString(0)).toSeq
      val relRe =
        "(data-[^/]+/(?:[^/=]+=[^/]*/)*part-[^/]*\\.parquet)$".r
      val rels = paths.map(p => relRe.findFirstMatchIn(p).map(_.group(1)))
      // an unmappable scan path must fail CLOSED (full rewrite), never
      // silently count as "untouched" — its matched rows would escape
      if (rels.exists(_.isEmpty)) None else Some(rels.flatten.sorted)
    }
  }

  /** The resolved target plan with its manifest file index restricted
    * to `touch` — same output attribute ids, only touched files read
    * (shared with the subquery DML paths; phase 1 succeeding via
    * `_metadata` guarantees the restrictable index exists). */
  private def restrictTarget(spark: SparkSession,
      touch: Seq[String]): LogicalPlan =
    GraftDmlExec.restrictPlan(spark, target, touch).getOrElse(target)

  /** The shared join→actions→result core over whichever target frame
    * the caller scoped (full snapshot or touched files only). */
  private def applyActions(tgtFrame: DataFrame, src: DataFrame,
      attrs: Seq[AttributeReference], bySource: Seq[MergeAction],
      run: (DataFrame, Option[DataFrame]) => Unit): Unit = {
    val tgt = tgtFrame
      .withColumn("__graft_tid", F.monotonically_increasing_id())
      .withColumn("__graft_tm", F.lit(true))
    val joined = tgt.join(src, Bridge.columnOf(mergeCond), "full_outer")
    joined.persist()
    try {
      val matchedRaw = joined.where(
        F.col("__graft_tm").isNotNull && F.col("__graft_sm").isNotNull)
      // SQL-standard cardinality rule: a target row matching more than
      // one source row makes the UPDATE/DELETE ambiguous - fail loudly
      // (silently applying "one of them" is how dimensions corrupt).
      // On the pruned path this join only carries the touched files,
      // so the guard's extra pass is ∝ touched data, not the table.
      if (matchedActions.nonEmpty &&
          matchedRaw.groupBy("__graft_tid").count()
            .where(F.col("count") > 1).limit(1).count() > 0)
        throw new IllegalStateException(
          "graft MERGE: a target row matched multiple source rows; " +
            "deduplicate the source on the merge key first")
      // with NO matched action, a multi-match is legal (the target row
      // simply stays) - but the join still carries one row per PAIR, so
      // the pass-through must dedupe on row identity or an insert-only
      // merge would duplicate every multi-matched target row
      val matched =
        if (matchedActions.nonEmpty) matchedRaw
        else matchedRaw.dropDuplicates("__graft_tid")
      val noSrc = joined.where(F.col("__graft_sm").isNull)
      val noTgt = joined.where(F.col("__graft_tm").isNull)
      val result =
        transformTargetRows(matched, attrs, matchedActions)
          .unionByName(transformTargetRows(noSrc, attrs, bySource))
          .unionByName(insertRows(noTgt, attrs, notMatchedActions))
      // the change record reads the SAME persisted join — inserts are
      // recorded explicitly because the merge's new files mix kept,
      // updated, and inserted rows (no derive-from-added-files shortcut)
      val inserts =
        if (notMatchedActions.isEmpty) None
        else Some(insertRows(noTgt, attrs, notMatchedActions)
          .withColumn(Manifest.CdfTypeCol, F.lit("insert")))
      val cdc = (cdcTargetRows(matched, attrs, matchedActions).toSeq ++
        cdcTargetRows(noSrc, attrs, bySource).toSeq ++ inserts.toSeq)
        .reduceOption(_.unionByName(_))
      run(result, cdc)
    } finally joined.unpersist()
  }

  /** MERGE-ON-READ merge (round 13, `graft.dml.mode = mor` on a target
    * with no pending delete state): the SAME pruned join as
    * [[applyActions]], but the target frame ALSO carries
    * `_metadata.file_path`/`row_index` (the restricted V1 relation
    * exposes them; table-column attribute ids are untouched, so every
    * action expression keeps binding) — matched rows with an
    * applicable UPDATE/DELETE action become POSITION DELETES, updated
    * copies and not-matched inserts land as the only new files, and
    * every touched file carries by reference. A daily upsert into a
    * 100 TB table then writes the upserted rows, not the touched
    * files. Commit, cdc, and conflict semantics are
    * [[Manifest.updateHitsMOR]]'s (one single-attempt commit). */
  private def applyActionsMor(spark: SparkSession, tgtMeta: DataFrame,
      src: DataFrame, attrs: Seq[AttributeReference],
      touch: Seq[String], keep: Seq[String]): Unit = {
    val tgt = tgtMeta
      .withColumn("__graft_tid", F.monotonically_increasing_id())
      .withColumn("__graft_tm", F.lit(true))
    val joined = tgt.join(src, Bridge.columnOf(mergeCond), "full_outer")
    joined.persist()
    try {
      val matchedRaw = joined.where(
        F.col("__graft_tm").isNotNull && F.col("__graft_sm").isNotNull)
      if (matchedRaw.groupBy("__graft_tid").count()
          .where(F.col("count") > 1).limit(1).count() > 0)
        throw new IllegalStateException(
          "graft MERGE: a target row matched multiple source rows; " +
            "deduplicate the source on the merge key first")
      val withIdx = matchedRaw.withColumn("__graft_act",
        actionIdx(matchedActions))
      // matched actions are UPDATE/DELETE only (the grammar): every
      // row with an applicable action position-deletes its original;
      // act-0 pass-throughs stay in their files untouched
      val affected = withIdx.where(F.col("__graft_act") > 0)
      val hits = affected.select(F.col("_graft_file"), F.col("_graft_pos"))
      val updateIdxs = matchedActions.zipWithIndex.collect {
        case (_: UpdateAction, i) => i + 1
      }
      val updatedCopies =
        if (updateIdxs.isEmpty)
          affected.select(attrs.map(a =>
            Bridge.columnOf(a).as(a.name)): _*).limit(0)
        else {
          val u = withIdx.where(F.col("__graft_act")
            .isin(updateIdxs.map(Integer.valueOf): _*))
          u.select(attrs.map { a =>
            matchedActions.zipWithIndex.foldLeft(Bridge.columnOf(a)) {
              case (acc, (up: UpdateAction, i)) =>
                up.assignments.find(keyMatches(a)).map(asg =>
                  F.when(F.col("__graft_act") === (i + 1),
                    Bridge.columnOf(asg.value).cast(a.dataType))
                    .otherwise(acc)).getOrElse(acc)
              case (acc, _) => acc
            }.as(a.name)
          }: _*)
        }
      val noTgt = joined.where(F.col("__graft_tm").isNull)
      val newRows = updatedCopies.unionByName(
        insertRows(noTgt, attrs, notMatchedActions))
      val inserts =
        if (notMatchedActions.isEmpty) None
        else Some(insertRows(noTgt, attrs, notMatchedActions)
          .withColumn(Manifest.CdfTypeCol, F.lit("insert")))
      val cdc = (cdcTargetRows(matchedRaw, attrs, matchedActions).toSeq ++
        inserts.toSeq)
        .reduceOption(_.unionByName(_))
        .getOrElse(newRows.withColumn(Manifest.CdfTypeCol,
          F.lit("insert")).limit(0))
      val snap = s"dml${System.currentTimeMillis()}-" +
        java.util.UUID.randomUUID().toString.take(8)
      Manifest.updateHitsMOR(spark, dir, snap, hits, newRows, cdc,
        GraftSource.uniformPartitionCols(
          if (touch.nonEmpty) touch else keep).getOrElse(Nil).toSeq,
        GraftDmlExec.beforePublishHook)
      spark.catalog.refreshByPath(dir)
    } finally joined.unpersist()
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val curOpt = GraftDmlExec.headOrFail(spark, dir, pinned)
    val attrs = target.output.collect { case a: AttributeReference => a }
    // ONE materialization of the source serves both phases: a
    // nondeterministic or moving source must not differ between the
    // touched-file scan and the rewrite join (Delta materializes its
    // merge source for the same reason)
    val srcBase = Bridge.ofRows(spark, source)
    srcBase.persist()
    try {
      val src = srcBase.withColumn("__graft_sm", F.lit(true))
      // phase 1 applies only when unmatched target rows provably pass
      // through: NOT MATCHED BY SOURCE actions touch every target row
      val pruned: Option[(Manifest.ManifestData, Seq[String], Seq[String])] =
        curOpt.filter(_ => notMatchedBySourceActions.isEmpty)
          .flatMap { cur =>
            findTouched(spark, srcBase).map { touched =>
              val ts = touched.toSet
              (cur, cur.files.filter(ts), cur.files.filterNot(ts))
            }
          }
      pruned match {
        case Some((cur, touch, keep)) =>
          val base = Bridge.ofRows(spark, restrictTarget(spark, touch))
          // MOR route: matched actions exist (an insert-only merge is
          // append-shaped — the COW path already commits it without
          // touching a file), the target opted in, no pending delete
          // state (positions must be judged against clean provenance;
          // compaction restores eligibility), and the restricted plan
          // exposes `_metadata` (Try: a wrapper hiding it falls back)
          // the restricted plan keeps the statement's alias wrappers,
          // which HIDE metadata columns (stripWrappers' contract) —
          // strip them for the metadata projection; SubqueryAlias
          // passes its child's attribute ids through, so every action
          // expression keeps binding (guarded like findTouched)
          val morFrame =
            if (matchedActions.nonEmpty && cur.deleteFiles.isEmpty &&
                touch.nonEmpty && GraftDmlExec.morMode(spark, dir)) {
              val stripped = stripWrappers(restrictTarget(spark, touch))
              if (!target.output.forall(stripped.outputSet.contains)) None
              else scala.util.Try(Bridge.ofRows(spark, stripped)
                .select(F.col("*"),
                  F.col("_metadata.file_path").as("_graft_file"),
                  F.col("_metadata.row_index").as("_graft_pos"))).toOption
            } else None
          morFrame match {
            case Some(tm) => applyActionsMor(spark, tm, src, attrs, touch, keep)
            case None =>
              applyActions(base, src, attrs, Nil, { (result, cdc) =>
                GraftDmlExec.refuseEmptyResult(result, keep, "MERGE")
                GraftDmlExec.commitRewrite(spark, dir, result, touch, keep,
                  cur.deleteFiles, base = Some(cur), cdc = cdc,
                  inserts = notMatchedActions.nonEmpty)
              })
          }
        case None =>
          // full-snapshot rewrite: NOT MATCHED BY SOURCE semantics, a
          // provenance-less target, or the initial load into a
          // declared-but-empty table (the full-outer join degenerates
          // to the not-matched inserts, committed as the first
          // snapshot). The merge read the whole table, so a concurrent
          // commit is a true conflict (no cowBase).
          applyActions(Bridge.ofRows(spark, target), src, attrs,
            notMatchedBySourceActions, { (result, cdc) =>
              GraftDmlExec.refuseEmptyResult(result, Nil, "MERGE")
              GraftDmlExec.commitRewrite(spark, dir, result,
                curOpt.map(_.files).getOrElse(Nil), Nil, Nil, cdc = cdc,
                inserts = notMatchedActions.nonEmpty)
            })
      }
    } finally srcBase.unpersist()
    Seq.empty
  }
}
