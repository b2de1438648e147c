package graft.sinks

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{
  And,
  Attribute,
  AttributeReference,
  AttributeSet,
  EqualTo,
  Expression,
  Literal,
  SubqueryExpression
}
import org.apache.spark.sql.catalyst.plans.logical.{
  Assignment,
  DeleteAction,
  DeleteFromTable,
  InsertAction,
  LogicalPlan,
  MergeIntoTable,
  SubqueryAlias,
  UpdateAction,
  UpdateTable
}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, V2CommandExec}

/** Row-level SQL DML for CATALOG identifiers (SURVEY §2.J
  * `cap_catalog_dml`) — makes `DELETE FROM graft.ns.t WHERE …`,
  * `UPDATE graft.ns.t SET …`, and `MERGE INTO graft.ns.t USING …` work
  * from plain SQL, completing the catalog's write surface (INSERT/CTAS
  * landed with [[GraftCatalog]]).
  *
  * Integration shape: Spark ANALYZES all three commands over any DSv2
  * relation without needing extra table capabilities (verified: the
  * resolved `DeleteFromTable` / `UpdateTable` / `MergeIntoTable` nodes
  * reach the PLANNER, where the built-in strategies reject tables that
  * lack `SupportsRowLevelOperations`). Injected planner strategies are
  * consulted BEFORE the built-ins, so this strategy claims exactly those
  * commands whose target is a [[GraftTable]] and lowers them, through the
  * shared DML router [[SnapshotDml]] that `q_snapshot_dml_sql` also
  * proves, onto the engine's own transactional executors. The session's
  * write mode (`spark.graft.dml.mor`) picks the executor family:
  *  - copy-on-write (default): [[SnapshotTable.deleteWhere]] /
  *    [[SnapshotTable.updateWhere]] when the WHERE is a pure
  *    range/equality conjunction (stats-proven all-match files drop with
  *    no I/O), [[SnapshotTable.deleteExpr]] / [[SnapshotTable.updateExpr]]
  *    otherwise, and [[SnapshotTable.mergeInto]] for every MERGE — each
  *    rewrites only the files its bounds or matched keys cannot prune;
  *  - merge-on-read: [[SnapshotTable.deleteWhereMor]] /
  *    [[SnapshotTable.updateWhereMor]] for the exact-range DELETE/UPDATE,
  *    [[SnapshotTable.mergeUpsertMor]] for the canonical upsert and
  *    [[SnapshotTable.deleteMatchedMor]] for the unconditional
  *    matched-delete — each writes O(change) (a range or keys mask over
  *    the candidate files plus any replacement rows, no target file
  *    rewritten) and reads pay the mask until compaction reconciles;
  *    every other shape stays copy-on-write.
  * Every statement is ONE atomic manifest commit.
  *
  * Install via `spark.sql.extensions=graft.GraftExtensions` or at runtime
  * with `GraftSqlBridge.addStrategy(spark, GraftDmlStrategy)`.
  *
  * Expression handling: the planner hands RESOLVED catalyst expressions
  * whose `AttributeReference`s carry foreign exprIds — the executors
  * build their own scans, so every attribute is rewritten back to an
  * [[UnresolvedAttribute]] (bare for single-table DELETE/UPDATE; for
  * MERGE, qualified by the side its exprId belongs to, under synthetic
  * `__t`/`__s` aliases so user aliases can never collide) and foldable
  * subtrees collapse to literals (analysis wraps literals in casts —
  * folding restores the shapes the range-skeleton fast paths recognize).
  * Conditions containing subqueries are refused loudly (rewrite as a
  * MERGE); a `MERGE` without `WITH SCHEMA EVOLUTION` projects the source
  * down to the referenced columns so unreferenced source columns can
  * never silently evolve the target schema. */
object GraftDmlStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DeleteFromTable(GraftTarget(g), cond) =>
      val spark = SparkSession.active
      writable(g, "DELETE")
      noSubquery(cond, "DELETE")
      val c = unresolve(cond)
      val stmt = SnapshotDml.Delete(asColumn(c), SnapshotSql.skeleton(c))
      dmlExec(spark, s"DELETE FROM ${g.name()}", g, stmt) :: Nil

    case u: UpdateTable =>
      u.table match {
        case GraftTarget(g) =>
          val spark = SparkSession.active
          writable(g, "UPDATE")
          // condition-less UPDATE rewrites every row — same semantics the
          // parser gives condition-less DELETE (a true literal), and the
          // behavior upstream table formats (Delta/Iceberg) allow
          val cond = u.condition.getOrElse(Literal.TrueLiteral)
          noSubquery(cond, "UPDATE")
          u.assignments.foreach(a => noSubquery(a.value, "UPDATE SET"))
          val set = u.assignments.map { a =>
            targetColumn(a.key) -> asColumn(unresolve(a.value))
          }.toMap
          val c = unresolve(cond)
          val stmt = SnapshotDml.Update(asColumn(c), SnapshotSql.skeleton(c), set)
          dmlExec(spark, s"UPDATE ${g.name()}", g, stmt) :: Nil
        case _ => Nil
      }

    case m: MergeIntoTable =>
      m.targetTable match {
        case GraftTarget(g) => planMerge(m, g) :: Nil
        case _ => Nil
      }

    case _ => Nil
  }

  // the executors alias their own frames by these; synthetic names keep
  // user aliases (and unaliased multi-part table names) out of the picture
  private val TAlias = "__t"
  private val SAlias = "__s"

  private def planMerge(m: MergeIntoTable, g: GraftTable): SparkPlan = {
    val spark = SparkSession.active
    writable(g, "MERGE INTO")
    val targetSet = AttributeSet(m.targetTable.output)
    val sourceSet = AttributeSet(m.sourceTable.output)
    val resolver = spark.sessionState.conf.resolver

    // ON must be a conjunction of same-named target/source key equalities
    // (the executor's key model — [[SnapshotTable.mergeInto]])
    def keysOf(e: Expression): Seq[String] = e match {
      case And(l, r) => keysOf(l) ++ keysOf(r)
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if resolver(a.name, b.name) &&
            ((targetSet.contains(a) && sourceSet.contains(b)) ||
              (targetSet.contains(b) && sourceSet.contains(a))) =>
        Seq(if (targetSet.contains(a)) a.name else b.name)
      case other =>
        sys.error(
          s"MERGE INTO a graft table needs ON as a conjunction of same-named " +
            s"target/source key equalities (t.k = s.k); got ${other.sql}")
    }
    // .distinct: a repeated key equality in ON (t.k = s.k AND t.k = s.k)
    // must not produce duplicate join columns downstream
    val keyCols = keysOf(m.mergeCondition).distinct

    // re-qualify every resolved attribute by the SIDE its exprId belongs
    // to — deterministic, never relies on name-based disambiguation
    def qual(e: Expression): Expression = {
      noSubquery(e, "MERGE clause")
      e.transformUp {
        case f if f.resolved && f.foldable && !f.isInstanceOf[Literal] =>
          Literal.create(f.eval(InternalRow.empty), f.dataType)
        case a: AttributeReference if targetSet.contains(a) =>
          UnresolvedAttribute(Seq(TAlias, a.name))
        case a: AttributeReference if sourceSet.contains(a) =>
          UnresolvedAttribute(Seq(SAlias, a.name))
        case a: AttributeReference =>
          sys.error(s"MERGE clause references ${a.sql}, which is neither a target nor a source column")
      }
    }
    def setMap(assigns: Seq[Assignment]): Map[String, String] =
      assigns.map(a => targetColumn(a.key) -> qual(a.value).sql).toMap

    // every target column assigned from its same-named source column
    // (SET * / INSERT * after analysis) lowers to the star form, so the
    // canonical upsert reaches the router as its clause set
    def allStar(assigns: Seq[Assignment]): Boolean = {
      val covered = assigns.flatMap { a =>
        (a.key, a.value) match {
          case (k: AttributeReference, v: AttributeReference)
              if targetSet.contains(k) && sourceSet.contains(v) && resolver(k.name, v.name) =>
            Some(k.name)
          case _ => None
        }
      }
      covered.length == assigns.length &&
      m.targetTable.output.map(_.name).toSet == covered.toSet
    }
    def setOrStar(assigns: Seq[Assignment]): Option[Map[String, String]] =
      if (allStar(assigns)) None else Some(setMap(assigns))
    val matchedClauses: Seq[SnapshotTable.MergeClause] = m.matchedActions.map {
      case UpdateAction(c, assigns, _) =>
        require(assigns.nonEmpty, "MERGE UPDATE with no assignments")
        SnapshotTable.MatchedUpdate(c.map(qual(_).sql), setOrStar(assigns))
      case DeleteAction(c) => SnapshotTable.MatchedDelete(c.map(qual(_).sql))
      case other => sys.error(s"unsupported MERGE matched action: ${other.getClass.getSimpleName}")
    }
    val notMatchedClauses: Seq[SnapshotTable.NotMatchedInsert] = m.notMatchedActions.map {
      case InsertAction(c, assigns) =>
        require(assigns.nonEmpty, "MERGE INSERT with no assignments")
        SnapshotTable.NotMatchedInsert(c.map(qual(_).sql), setOrStar(assigns))
      case other => sys.error(s"unsupported MERGE not-matched action: ${other.getClass.getSimpleName}")
    }
    val nbsActions = m.notMatchedBySourceActions
    val nbsClauses: Seq[SnapshotTable.MergeClause] = nbsActions.map {
      case UpdateAction(c, assigns, _) =>
        require(assigns.nonEmpty, "MERGE BY SOURCE UPDATE with no assignments")
        SnapshotTable.MatchedUpdate(c.map(qual(_).sql), Some(setMap(assigns)))
      case DeleteAction(c) => SnapshotTable.MatchedDelete(c.map(qual(_).sql))
      case other =>
        sys.error(s"unsupported MERGE not-matched-by-source action: ${other.getClass.getSimpleName}")
    }
    // each BY SOURCE clause's widened range skeleton (rewrite pruning only
    // — widening keeps a superset; empty = the executor's honest full
    // rewrite). Qualified names are fine: the skeleton reads the last part.
    val nbsBounds = nbsActions.map {
      case UpdateAction(Some(c), _, _) => SnapshotSql.skeleton(qual(c)).bounds
      case DeleteAction(Some(c)) => SnapshotSql.skeleton(qual(c)).bounds
      case _ => Seq.empty[SnapshotTable.Bound]
    }

    // without WITH SCHEMA EVOLUTION, unreferenced source columns must not
    // evolve the target schema (the executor evolves like append by
    // contract) — project the source down to what the statement references
    val sourceDf = {
      val full = org.apache.spark.sql.GraftSqlBridge.ofRows(SparkSession.active, m.sourceTable)
      if (m.withSchemaEvolution) full
      else {
        val referenced: Set[String] =
          (Seq(m.mergeCondition) ++
            (m.matchedActions ++ m.notMatchedActions ++ nbsActions).flatMap(actionExprs))
            .flatMap(_.collect { case a: AttributeReference if sourceSet.contains(a) => a.name })
            .toSet
        // resolver-matched, not Set.contains: assignment resolution renames
        // source-side attributes to the TARGET's casing (same exprId, new
        // name), so `ON t.K = s.k … SET *` references source column `val`
        // under the name `Val` — an exact-case filter would silently drop
        // the column from the projected source and the merge would land
        // NULLs for it
        val keep = full.columns.filter(c => referenced.exists(resolver(c, _)))
        full.select(keep.map(c => org.apache.spark.sql.functions.col("`" + c + "`")).toSeq: _*)
      }
    }

    // EVERY executor keys the source by the TARGET's exact column casing
    // (the MOR routes through physical-mapping lookups; the COW routes
    // through their keyed joins, where a target `K` joined to a source `k`
    // leaves two case-folding-equal output columns and every later `K`
    // reference ambiguous) while keysOf/allStar resolve with the session
    // resolver — so align the source frame to the target's EXACT casing
    // before either route, making `ON t.K = s.k … UPDATE SET *` land
    // identically in both write modes. A source whose columns collide
    // under the fold (both `k` and `K`) cannot be aligned and keeps its
    // own names — such a source is only valid case-sensitively anyway.
    val alignedSourceDf: org.apache.spark.sql.DataFrame = {
      val targetNames = m.targetTable.output.map(_.name)
      val aligned = sourceDf.columns.map(c => targetNames.find(resolver(_, c)).getOrElse(c))
      if (aligned.distinct.length != aligned.length || aligned.sameElements(sourceDf.columns))
        sourceDf
      else sourceDf.toDF(scala.collection.immutable.ArraySeq.unsafeWrapArray(aligned): _*)
    }
    dmlExec(
      spark,
      s"MERGE INTO ${g.name()}",
      g,
      SnapshotDml.Merge(
        alignedSourceDf, keyCols, matchedClauses, notMatchedClauses, TAlias, SAlias, nbsClauses, nbsBounds))
  }

  /** One catalog DML statement as its eager command node, landed by the
    * shared router ([[SnapshotDml]]) in the session's write mode. */
  private def dmlExec(spark: SparkSession, label: String, g: GraftTable, stmt: SnapshotDml.Statement): SparkPlan =
    GraftDmlExec(label, () => { SnapshotDml.run(spark, g.root, morDml(spark), stmt); () })

  /** Session-level write-mode switch for catalog DML —
    * `spark.graft.dml.mor=true` routes the shapes with merge-on-read
    * executors (exact-bound DELETE/UPDATE, canonical MERGE upsert,
    * unconditional matched-delete) onto the O(change) MOR commits; the
    * rest stay copy-on-write. The SAME caller-chooses-write-mode stance
    * as the SQL-text router's `morWrites` registration flag and the
    * programmatic `*Mor` operators — write mode is statement economics,
    * not table state, in a stateless catalog. */
  private def morDml(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.dml.mor").exists(_.equalsIgnoreCase("true"))

  private def actionExprs(a: Any): Seq[Expression] = a match {
    case UpdateAction(c, assigns, _) => c.toSeq ++ assigns.flatMap(x => Seq(x.key, x.value))
    case InsertAction(c, assigns) => c.toSeq ++ assigns.flatMap(x => Seq(x.key, x.value))
    case DeleteAction(c) => c.toSeq
    case _ => Seq.empty
  }

  private def writable(g: GraftTable, what: String): Unit =
    require(
      g.writable,
      s"$what ${g.name()}: this handle is read-only (time-travel/pinned, or loaded by path) — " +
        "run DML against the current table through a catalog identifier")

  private def noSubquery(e: Expression, what: String): Unit =
    require(
      !e.exists(_.isInstanceOf[SubqueryExpression]),
      s"$what with a subquery in a condition/value is not supported — rewrite as MERGE INTO")

  /** Single-table form: resolved attrs → bare unresolved names; foldable
    * subtrees (analysis cast-wraps literals) → literals, restoring the
    * shapes the exact-bound fast paths recognize. */
  private def unresolve(e: Expression): Expression = e.transformUp {
    case f if f.resolved && f.foldable && !f.isInstanceOf[Literal] =>
      Literal.create(f.eval(InternalRow.empty), f.dataType)
    case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
  }

  private def targetColumn(key: Expression): String = key match {
    case a: AttributeReference => a.name
    case other => sys.error(s"unsupported assignment target ${other.sql} (top-level columns only)")
  }

  private def asColumn(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(e)
}

/** Strips alias wrappers and matches a DSv2 relation over a [[GraftTable]]. */
private[sinks] object GraftTarget {
  @scala.annotation.tailrec
  def unapply(plan: LogicalPlan): Option[GraftTable] = plan match {
    case SubqueryAlias(_, child) => unapply(child)
    // the optimizer converts the relation to its scan form before planning
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
      unapply(r.relation)
    case r: DataSourceV2Relation =>
      r.table match {
        case g: GraftTable => Some(g)
        case _ => None
      }
    case _ => None
  }
}

/** Driver-side eager command node (the V2CommandExec contract: `run()`
  * executes exactly once, results cached). DML returns no rows. */
private[sinks] case class GraftDmlExec(label: String, work: () => Unit)
    extends V2CommandExec
    with LeafExecNode {
  override def run(): Seq[InternalRow] = { work(); Nil }
  override def output: Seq[Attribute] = Nil
  override def simpleString(maxFields: Int): String = s"GraftDmlExec $label"
}
