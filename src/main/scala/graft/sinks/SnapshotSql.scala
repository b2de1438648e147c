package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import scala.collection.concurrent.TrieMap

/** SQL-text DML for [[SnapshotTable]] — `DELETE FROM` / `UPDATE` /
  * `MERGE INTO` statements routed onto the table's transactional
  * copy-on-write operators, completing the SQL surface the Catalyst read
  * integration ([[SnapshotFileIndex]]) already provides for queries.
  *
  * The router is deliberately thin: Spark's OWN parser
  * (`sessionState.sqlParser.parsePlan`) produces the standard
  * `DeleteFromTable`/`UpdateTable`/`MergeIntoTable` logical plans — the
  * same trees a DataSource-v2 table would receive — and this object
  * pattern-matches them onto [[SnapshotTable.deleteWhere]]/
  * [[SnapshotTable.updateWhere]]/[[SnapshotTable.mergeInto]], through the
  * shared DML router [[SnapshotDml]]. Every translation preserves
  * semantics exactly:
  *
  *  - range/equality conjunctions (`BETWEEN`, `>=`, `<=`, `=`, `AND`)
  *    become [[SnapshotTable.Bound]]s verbatim — the same manifest-stat
  *    pruning and whole-file drop economics as the programmatic API;
  *  - any OTHER condition still executes correctly through a generalized
  *    rewrite: bounds derived from the condition's range skeleton (a
  *    strict `>` widens to an inclusive prune bound — pruning may keep an
  *    extra file, never drop a live one) prune the file set, the TRUE
  *    predicate filters rows, and the whole-file fast-drop is disabled
  *    (only the exact translation may prove "every row matches");
  *  - `MERGE` (ON a conjunction of same-named key equalities) lowers
  *    onto a [[SnapshotTable.mergeInto]] clause set — conditional
  *    clauses, matched DELETE, explicit SET/INSERT lists, multiple
  *    first-match-wins clauses, WHEN NOT MATCHED BY SOURCE; the
  *    canonical upsert (`WHEN MATCHED THEN UPDATE SET *` + `WHEN NOT
  *    MATCHED THEN INSERT *`) is one such set, which the router lands as
  *    a keys mask in merge-on-read mode; only genuinely untranslatable
  *    actions are refused loudly.
  *
  * Targets must be [[register]]ed (name → table root): DML against
  * anything else is refused — this router must never silently "delete"
  * from a parquet path or a temp view it does not own. */
object SnapshotSql {

  private final case class Registration(root: String, morWrites: Boolean)

  // Registrations are scoped per session but must not RETAIN the session:
  // a strongly-keyed global map would pin every SparkSession (and its
  // whole state) for the life of a multi-session process. WeakHashMap
  // keys by identity without retention — a closed/unreferenced session's
  // entry (and its name→root map) becomes garbage-collectable. Values
  // hold only strings, never the session, so they can't resurrect the key.
  private val registry =
    new java.util.WeakHashMap[SparkSession, TrieMap[String, Registration]]()

  private def sessionMap(spark: SparkSession): TrieMap[String, Registration] =
    registry.synchronized {
      var m = registry.get(spark)
      if (m == null) { m = TrieMap.empty[String, Registration]; registry.put(spark, m) }
      m
    }

  /** Register `name` as the SQL-addressable identity of the snapshot
    * table at `root` for this session. `morWrites = true` makes DML
    * statements take the MERGE-ON-READ operators
    * ([[SnapshotTable.deleteWhereMor]]/[[SnapshotTable.mergeUpsertMor]]) —
    * the per-table write-mode property (Delta's
    * `delta.enableDeletionVectors`): same results, O(change) writes,
    * read-time masks until compaction reconciles. DELETE/UPDATE take the
    * merge-on-read route only for exactly-translatable range conditions
    * (a mask IS a recorded range predicate); anything else falls back to
    * copy-on-write — correct in both modes. */
  def register(spark: SparkSession, name: String, root: String, morWrites: Boolean = false): Unit =
    sessionMap(spark).put(name.toLowerCase(java.util.Locale.ROOT), Registration(root, morWrites))

  def unregister(spark: SparkSession, name: String): Unit =
    sessionMap(spark).remove(name.toLowerCase(java.util.Locale.ROOT))

  private def registrationOf(spark: SparkSession, nameParts: Seq[String]): Registration = {
    val name = nameParts.last.toLowerCase(java.util.Locale.ROOT)
    sessionMap(spark).getOrElse(
      name,
      sys.error(
        s"'${nameParts.mkString(".")}' is not a registered snapshot table; " +
          "SnapshotSql.register(spark, name, root) it first — DML on non-snapshot " +
          "targets is refused, not approximated"))
  }

  private def setMapOf(assigns: Seq[Assignment], what: String): Map[String, String] =
    assigns.map { a =>
      val name = attrName(a.key).getOrElse(
        sys.error(s"unsupported $what target: ${a.key.sql} (single-column targets only)"))
      name -> a.value.sql
    }.toMap

  private def tableParts(plan: LogicalPlan): Seq[String] = plan match {
    case SubqueryAlias(_, child) => tableParts(child)
    case r: UnresolvedRelation => r.multipartIdentifier
    case t: UnresolvedTable => t.multipartIdentifier // ALTER TABLE targets
    case other => sys.error(s"unsupported DML target shape: ${other.getClass.getSimpleName}")
  }

  /** The condition's exact-or-widened range skeleton: bounds usable for
    * manifest pruning, plus whether they ARE the condition (no widening,
    * no unreachable residue) — only then may the fast whole-file paths
    * engage. */
  private[sinks] final case class Skeleton(bounds: Seq[SnapshotTable.Bound], exact: Boolean)

  /** Internal literal → the external value [[SnapshotTable.Bound]] carries
    * (what `normBound`/`lit` understand). None = untranslatable type. */
  private def externalValue(l: Literal): Option[Any] = {
    import org.apache.spark.sql.types._
    (l.dataType, l.value) match {
      case (_, null) => None // IS NULL handled elsewhere; a null range bound is meaningless
      case (StringType, v) => Some(v.toString)
      case (DateType, days: Integer) =>
        Some(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.longValue())))
      case (TimestampType | TimestampNTZType, micros: java.lang.Long) =>
        val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
        ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        Some(ts)
      case (BooleanType, b: java.lang.Boolean) => Some(b.booleanValue())
      case (_: DecimalType, d: org.apache.spark.sql.types.Decimal) => Some(d.toJavaBigDecimal)
      case (ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType, n: Number) => Some(n)
      case _ => None
    }
  }

  private def attrName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.nameParts.last)
    case _ => None
  }

  private[sinks] def skeleton(e: Expression): Skeleton = {
    import SnapshotTable.Bound
    def one(col: Option[String], l: Literal, mk: Any => Bound, exact: Boolean): Skeleton =
      (col, externalValue(l)) match {
        case (Some(c), Some(v)) => Skeleton(Seq(mk(v).copy(column = c)), exact)
        case _ => Skeleton(Seq.empty, exact = false)
      }
    e match {
      case And(l, r) =>
        val (sl, sr) = (skeleton(l), skeleton(r))
        Skeleton(sl.bounds ++ sr.bounds, sl.exact && sr.exact)
      // BETWEEN survives parsing as 'between(input, lo, hi) (an
      // UnresolvedFunction, resolved to the RuntimeReplaceable Between
      // only during analysis): translate through its >= AND <= meaning
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) == Seq("between") &&
            f.arguments.size == 3 =>
        skeleton(And(
          GreaterThanOrEqual(f.arguments(0), f.arguments(1)),
          LessThanOrEqual(f.arguments(0), f.arguments(2))))
      case b: Between =>
        skeleton(And(GreaterThanOrEqual(b.input, b.lower), LessThanOrEqual(b.input, b.upper)))
      case GreaterThanOrEqual(a, l: Literal) => one(attrName(a), l, v => Bound("", lower = Some(v)), exact = true)
      case LessThanOrEqual(a, l: Literal) => one(attrName(a), l, v => Bound("", upper = Some(v)), exact = true)
      case EqualTo(a, l: Literal) if attrName(a).isDefined =>
        one(attrName(a), l, v => Bound("", Some(v), Some(v)), exact = true)
      case EqualTo(l: Literal, a) => one(attrName(a), l, v => Bound("", Some(v), Some(v)), exact = true)
      // strict comparisons: WIDEN to the inclusive prune bound — safe for
      // file pruning (superset), but not exact, so fast paths stay off
      case GreaterThan(a, l: Literal) => one(attrName(a), l, v => Bound("", lower = Some(v)), exact = false)
      case LessThan(a, l: Literal) => one(attrName(a), l, v => Bound("", upper = Some(v)), exact = false)
      // mirrored literal-first forms
      case GreaterThanOrEqual(l: Literal, a) => one(attrName(a), l, v => Bound("", upper = Some(v)), exact = true)
      case LessThanOrEqual(l: Literal, a) => one(attrName(a), l, v => Bound("", lower = Some(v)), exact = true)
      case GreaterThan(l: Literal, a) => one(attrName(a), l, v => Bound("", upper = Some(v)), exact = false)
      case LessThan(l: Literal, a) => one(attrName(a), l, v => Bound("", lower = Some(v)), exact = false)
      case _ => Skeleton(Seq.empty, exact = false) // unknown shape: no pruning, row filter decides
    }
  }

  private def asColumn(e: Expression): Column = org.apache.spark.sql.GraftSqlBridge.column(e)

  // Maintenance statements Spark's parser has no grammar for — the same
  // move Delta makes with its parser extension, kept to two rigid shapes
  // so nothing is approximated. VACUUM retention is VERSION-based here
  // (the table's contract); HOURS-based RETENTION is refused loudly, but
  // the live-writer age guard the programmatic API exposes (minAgeMs) IS
  // expressible: `OLDER THAN <h> HOURS` gates deletion to artifacts at
  // least that old — required discipline beside concurrent writers (an
  // in-flight commit's data dir is unreferenced until publish).
  private val VacuumRe =
    """(?is)\s*VACUUM\s+`?([\w.]+)`?\s+RETAIN\s+(\d+)\s+VERSIONS?(?:\s+OLDER\s+THAN\s+(\d+)\s+HOURS?)?\s*""".r
  private val VacuumBadRe = """(?is)\s*VACUUM\s+.*""".r
  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+`?([\w.]+)`?\s+ZORDER\s+BY\s*\(([^)]+)\)(?:\s+INTO\s+(\d+)\s+FILES)?\s*""".r
  private val OptimizeWhereRe =
    ("""(?is)\s*OPTIMIZE\s+`?([\w.]+)`?\s+WHERE\s+`?(\w+)`?\s+BETWEEN\s+('[^']*'|[\w.\-]+)\s+AND\s+""" +
      """('[^']*'|[\w.\-]+)\s+CLUSTER\s+BY\s*\(\s*`?(\w+)`?\s*\)(?:\s+INTO\s+(\d+)\s+FILES)?\s*""").r
  // bare OPTIMIZE = Delta's default small-file bin-packing
  private val OptimizeCompactRe = """(?is)\s*OPTIMIZE\s+`?([\w.]+)`?\s*""".r
  private val OptimizeBadRe = """(?is)\s*OPTIMIZE\s+.*""".r
  private val DescribeHistoryRe =
    """(?is)\s*DESCRIBE\s+HISTORY\s+`?([\w.]+)`?\s*;?\s*""".r
  private val DescribeDetailRe =
    """(?is)\s*DESCRIBE\s+DETAIL\s+`?([\w.]+)`?\s*;?\s*""".r
  private val ShowTablesRe =
    """(?is)\s*SHOW\s+SNAPSHOT\s+TABLES\s*;?\s*""".r
  private val RestoreRe =
    """(?is)\s*RESTORE\s+TABLE\s+`?([\w.]+)`?\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*""".r
  private val RestoreTsRe =
    """(?is)\s*RESTORE\s+TABLE\s+`?([\w.]+)`?\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*""".r
  private val RestoreBadRe = """(?is)\s*RESTORE\s+.*""".r
  // refs (branches and tags) — Spark's grammar has no ref DDL, so these
  // are regex-routed like the other maintenance statements, kept to
  // rigid shapes; the ...BadRe catchers fire ONLY on statements that
  // name a ref keyword, so ordinary ALTER TABLE DDL still reaches the
  // real parser below
  private val CreateBranchRe =
    """(?is)\s*ALTER\s+TABLE\s+`?([\w.]+)`?\s+CREATE\s+BRANCH\s+`?([\w-]+)`?(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*""".r
  private val DropBranchRe =
    """(?is)\s*ALTER\s+TABLE\s+`?([\w.]+)`?\s+DROP\s+BRANCH\s+`?([\w-]+)`?\s*""".r
  private val CreateTagRe =
    """(?is)\s*ALTER\s+TABLE\s+`?([\w.]+)`?\s+CREATE\s+TAG\s+`?([\w-]+)`?(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*""".r
  private val DropTagRe =
    """(?is)\s*ALTER\s+TABLE\s+`?([\w.]+)`?\s+DROP\s+TAG\s+`?([\w-]+)`?\s*""".r
  private val FastForwardRe =
    """(?is)\s*ALTER\s+TABLE\s+`?([\w.]+)`?\s+FAST\s+FORWARD\s+BRANCH\s+`?([\w-]+)`?\s*""".r
  private val CherryPickRe =
    """(?is)\s*ALTER\s+TABLE\s+`?([\w.]+)`?\s+CHERRY[\s-]?PICK\s+BRANCH\s+`?([\w-]+)`?\s*""".r
  private val RebaseRe =
    """(?is)\s*ALTER\s+TABLE\s+`?([\w.]+)`?\s+REBASE\s+BRANCH\s+`?([\w-]+)`?\s*""".r
  // fires only on ref VERBS (CREATE/DROP BRANCH|TAG, FAST FORWARD,
  // CHERRY PICK) so a column legitimately NAMED `tag`/`branch` still
  // reaches the parser
  private val RefBadRe =
    """(?is)\s*ALTER\s+TABLE\s+.*(?:(?:CREATE|DROP)\s+(?:BRANCH|TAG)\b|FAST\s+FORWARD|CHERRY[\s-]?PICK|REBASE\s+BRANCH).*""".r
  private val VacuumDryRe =
    """(?is)\s*VACUUM\s+`?([\w.]+)`?\s+RETAIN\s+(\d+)\s+VERSIONS?(?:\s+OLDER\s+THAN\s+(\d+)\s+HOURS?)?\s+DRY\s+RUN\s*;?\s*""".r
  private val RefreshMvRe =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+`?([\w.]+)`?\s*;?\s*""".r
  private val ShowBranchesRe =
    """(?is)\s*SHOW\s+BRANCHES\s+(?:IN\s+)?`?([\w.]+)`?\s*;?\s*""".r
  private val ShowTagsRe =
    """(?is)\s*SHOW\s+TAGS\s+(?:IN\s+)?`?([\w.]+)`?\s*;?\s*""".r

  /** A maintenance statement's table name: registered SINGLE-PART names
    * only — resolving a qualified db.t by its last segment could point a
    * DESTRUCTIVE op (vacuum deletes history) at the wrong table, the
    * exact hijack [[query]]'s precedence rules forbid for reads. */
  private def maintenanceReg(spark: SparkSession, name: String): Registration = {
    require(
      !name.contains('.'),
      s"'$name' is qualified — maintenance statements address registered snapshot tables " +
        "by their bare single-part registration name only")
    registrationOf(spark, Seq(name))
  }

  /** Execute one DML / DDL / maintenance statement; returns the committed
    * version (VACUUM returns the retained latest version). */
  def execute(spark: SparkSession, sql: String): Int = {
    // the parser accepts trailing semicolons on every statement; the
    // regex-routed maintenance shapes must too
    val trimmed = sql.replaceAll("""[;\s]+$""", "")
    trimmed match {
      case VacuumRe(name, n, hours) =>
        val reg = maintenanceReg(spark, name)
        SnapshotTable.vacuum(
          spark,
          reg.root,
          keepLast = n.toInt,
          minAgeMs = Option(hours).map(_.toLong * 3600000L).getOrElse(0L))
        SnapshotTable.latestVersion(spark, reg.root).get
      case RestoreRe(name, v) =>
        SnapshotTable.restore(spark, maintenanceReg(spark, name).root, v.toInt)
      case RestoreTsRe(name, ts) =>
        val reg = maintenanceReg(spark, name)
        val millis =
          if (ts.forall(_.isDigit)) ts.toLong
          else java.sql.Timestamp.valueOf(ts).getTime
        SnapshotTable.restore(spark, reg.root, SnapshotTable.versionAsOf(spark, reg.root, millis))
      case RestoreBadRe() =>
        sys.error(
          "RESTORE supports 'RESTORE TABLE <t> TO VERSION AS OF <n>' and " +
            "'RESTORE TABLE <t> TO TIMESTAMP AS OF '<ts>'' only")
      case VacuumBadRe() =>
        sys.error(
          "VACUUM supports 'VACUUM <table> RETAIN <n> VERSIONS [OLDER THAN <h> HOURS]' only — " +
            "RETENTION is version-based (see SnapshotTable.vacuum's reader contract; the OLDER " +
            "THAN clause is the live-writer age guard, not a retention policy); the DRY RUN " +
            "form is a READ — issue it through SnapshotSql.query; other shapes are refused, " +
            "not approximated")
      case OptimizeRe(name, cols, nFiles) =>
        val reg = maintenanceReg(spark, name)
        // resolver-aware column names (OPTIMIZE snap ZORDER BY (K) under
        // default case-insensitivity), like every other DDL path here
        val zcols = cols.split(',').map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty).toSeq
          .map(c => resolveColumn(spark, reg.root, c)
            .getOrElse(sys.error(s"OPTIMIZE ZORDER: no column '$c' in table schema")))
        // default file count targets ~128MB files from the manifest's
        // recorded bytes (an OPTIMIZE that FRAGMENTS a small table into
        // core-count shards would be the opposite of its name); INTO
        // overrides explicitly
        val n = Option(nFiles).map(_.toInt).getOrElse {
          val v = SnapshotTable.latestVersion(spark, reg.root).getOrElse(
            sys.error(s"no snapshot table at ${reg.root}"))
          val bytes = SnapshotTable.readManifest(spark, reg.root, v).files.map(f => math.max(f.bytes, 0L)).sum
          math.max(1, math.ceil(bytes / (128.0 * 1024 * 1024)).toInt)
        }
        SnapshotTable.compactZOrder(spark, reg.root, zcols, n)
      // PARTIAL compaction: re-cluster only the key range (the runnable
      // maintenance unit at 100 TB — one range per commit, resumable)
      case OptimizeWhereRe(name, boundCol, lo, hi, clusterCol, nFiles) =>
        val reg = maintenanceReg(spark, name)
        def lit(s: String): Any =
          if (s.startsWith("'")) s.stripPrefix("'").stripSuffix("'")
          else if (s.matches("""-?\d+""")) s.toLong
          else if (s.matches("""-?\d*\.\d+""")) s.toDouble
          else sys.error(s"OPTIMIZE WHERE bound '$s' must be a number or a quoted literal")
        val bc = resolveColumn(spark, reg.root, boundCol)
          .getOrElse(sys.error(s"OPTIMIZE WHERE: no column '$boundCol' in table schema"))
        val cc = resolveColumn(spark, reg.root, clusterCol)
          .getOrElse(sys.error(s"OPTIMIZE CLUSTER BY: no column '$clusterCol' in table schema"))
        SnapshotTable.compactWhere(
          spark,
          reg.root,
          Seq(SnapshotTable.Bound(bc, Some(lit(lo)), Some(lit(hi)))),
          cc,
          Option(nFiles).map(_.toInt).getOrElse(0)) // 0 = auto-size at ~128MB from the selected bytes
      // ───────── refs: branch / tag DDL (metadata-only, zero-copy) ─────────
      // returns follow each operation's natural version: CREATE BRANCH →
      // the fork version, CREATE TAG → the pinned version, FAST FORWARD →
      // the new main latest, drops → the unchanged latest
      case CreateBranchRe(name, branch, asOf) =>
        val reg = maintenanceReg(spark, name)
        SnapshotTable.createBranch(spark, reg.root, branch, Option(asOf).map(_.toInt))
        SnapshotTable.branches(spark, reg.root).collectFirst { case (b, f) if b == branch => f }.get
      case DropBranchRe(name, branch) =>
        val reg = maintenanceReg(spark, name)
        SnapshotTable.dropBranch(spark, reg.root, branch)
        SnapshotTable.latestVersion(spark, reg.root).get
      case CreateTagRe(name, tag, asOf) =>
        SnapshotTable.createTag(spark, maintenanceReg(spark, name).root, tag, Option(asOf).map(_.toInt))
      case DropTagRe(name, tag) =>
        val reg = maintenanceReg(spark, name)
        SnapshotTable.dropTag(spark, reg.root, tag)
        SnapshotTable.latestVersion(spark, reg.root).get
      case FastForwardRe(name, branch) =>
        SnapshotTable.fastForward(spark, maintenanceReg(spark, name).root, branch)
      case CherryPickRe(name, branch) =>
        SnapshotTable.cherryPick(spark, maintenanceReg(spark, name).root, branch)
      // replay the branch's local commits onto CURRENT main (returns the
      // rebased branch's latest) — see SnapshotTable.rebase's commutation
      // rules; non-replayable commits refuse with the version named
      case RebaseRe(name, branch) =>
        SnapshotTable.rebase(spark, maintenanceReg(spark, name).root, branch)
      // the registered name points at the MV's own table root; the
      // statement catches it up to its base (SnapshotMv.refresh — cost ∝
      // base changes since the sync point, exactly-once on replay)
      case RefreshMvRe(name) =>
        SnapshotMv.refresh(spark, maintenanceReg(spark, name).root)
      case RefBadRe() =>
        sys.error(
          "ref DDL supports 'ALTER TABLE <t> CREATE BRANCH <b> [AS OF VERSION <n>]', " +
            "'ALTER TABLE <t> CREATE TAG <g> [AS OF VERSION <n>]', 'ALTER TABLE <t> DROP " +
            "BRANCH <b>', 'ALTER TABLE <t> DROP TAG <g>', 'ALTER TABLE <t> FAST FORWARD " +
            "BRANCH <b>', 'ALTER TABLE <t> CHERRY PICK BRANCH <b>' and 'ALTER TABLE <t> " +
            "REBASE BRANCH <b>' only — other ref shapes are refused, not approximated")
      case OptimizeCompactRe(name) =>
        SnapshotTable.compactSmall(spark, maintenanceReg(spark, name).root)
      case OptimizeBadRe() =>
        sys.error(
          "OPTIMIZE supports 'OPTIMIZE <table>' (small-file bin-packing), " +
            "'OPTIMIZE <table> ZORDER BY (cols...) [INTO <n> FILES]' and " +
            "'OPTIMIZE <table> WHERE <col> BETWEEN <lo> AND <hi> CLUSTER BY (<col>) [INTO <n> FILES]' only; " +
            "single-column whole-table clustering is the one-column ZORDER form")
      case _ => executeParsed(spark, sql)
    }
  }

  private def executeParsed(spark: SparkSession, sql: String): Int =
    spark.sessionState.sqlParser.parsePlan(sql) match {

      case d: DeleteFromTable =>
        val reg = registrationOf(spark, tableParts(d.table))
        SnapshotDml.run(
          spark, reg.root, reg.morWrites, SnapshotDml.Delete(asColumn(d.condition), skeleton(d.condition)))

      case u: UpdateTable =>
        val reg = registrationOf(spark, tableParts(u.table))
        val root = reg.root
        val set = u.assignments.map { a =>
          val name = attrName(a.key).getOrElse(
            sys.error(s"unsupported SET target: ${a.key.sql} (single-column targets only)"))
          name -> asColumn(a.value)
        }.toMap
        val cond = u.condition.getOrElse(
          sys.error("UPDATE without WHERE would rewrite the whole table; use overwrite"))
        SnapshotDml.run(spark, root, reg.morWrites, SnapshotDml.Update(asColumn(cond), skeleton(cond), set))

      case m: MergeIntoTable =>
        val reg = registrationOf(spark, tableParts(m.targetTable))
        // ON must be a conjunction of same-named key equalities (t.k = s.k)
        def keysOf(e: Expression): Seq[String] = e match {
          case And(l, r) => keysOf(l) ++ keysOf(r)
          case EqualTo(a, b) =>
            (attrName(a), attrName(b)) match {
              case (Some(x), Some(y)) if x == y => Seq(x)
              case got =>
                sys.error(
                  s"MERGE ON must equate same-named key columns (t.k = s.k); got $got in ${e.sql}")
            }
          case other => sys.error(s"MERGE ON must be a conjunction of key equalities; got ${other.sql}")
        }
        val keyCols = keysOf(m.mergeCondition)
        // the USING side resolves registered snapshot tables too (incl.
        // time travel) — `MERGE INTO t USING other_snapshot ...` works
        // without a temp view
        val source: DataFrame = org.apache.spark.sql.GraftSqlBridge.ofRows(
          spark,
          substituteRegistered(spark, stripAlias(m.sourceTable)))
        // every MERGE is a clause set — the canonical upsert, conditional
        // clauses, matched DELETE, explicit SET/INSERT column lists,
        // multiple first-match-wins matched clauses, and WHEN NOT
        // MATCHED BY SOURCE (whose rewrite set prunes through each
        // clause condition's widened range skeleton — or honestly
        // rewrites the table when no skeleton exists). Conditions and
        // values travel as SQL text (the parsed expressions' .sql) and
        // resolve against the statement's own aliases.
        val matchedClauses: Seq[SnapshotTable.MergeClause] = m.matchedActions.map {
          case UpdateStarAction(c) => SnapshotTable.MatchedUpdate(c.map(_.sql), None)
          case UpdateAction(c, _, true) => SnapshotTable.MatchedUpdate(c.map(_.sql), None)
          case UpdateAction(c, assigns, false) =>
            SnapshotTable.MatchedUpdate(c.map(_.sql), Some(setMapOf(assigns, "SET")))
          case DeleteAction(c) => SnapshotTable.MatchedDelete(c.map(_.sql))
          case other =>
            sys.error(s"unsupported MERGE matched action: ${other.getClass.getSimpleName}")
        }
        val notMatchedClauses = m.notMatchedActions.map {
          case InsertStarAction(c) => SnapshotTable.NotMatchedInsert(c.map(_.sql), None)
          case InsertAction(c, assigns) =>
            SnapshotTable.NotMatchedInsert(c.map(_.sql), Some(setMapOf(assigns, "INSERT")))
          case other =>
            sys.error(s"unsupported MERGE not-matched action: ${other.getClass.getSimpleName}")
        }
        val nbsClauses: Seq[SnapshotTable.MergeClause] = m.notMatchedBySourceActions.map {
          case UpdateAction(c, assigns, false) =>
            SnapshotTable.MatchedUpdate(c.map(_.sql), Some(setMapOf(assigns, "SET")))
          case DeleteAction(c) => SnapshotTable.MatchedDelete(c.map(_.sql))
          case other =>
            sys.error(s"unsupported MERGE not-matched-by-source action: ${other.getClass.getSimpleName}")
        }
        // each BY SOURCE clause's widened range skeleton, for rewrite
        // pruning only (widening keeps a superset of the files a
        // condition can touch — always safe; an empty skeleton makes
        // the executor fall back to the full-table rewrite)
        val nbsBounds = m.notMatchedBySourceActions.map {
          case UpdateAction(Some(c), _, _) => skeleton(c).bounds
          case DeleteAction(Some(c)) => skeleton(c).bounds
          case _ => Seq.empty[SnapshotTable.Bound]
        }
        SnapshotDml.run(
          spark,
          reg.root,
          reg.morWrites,
          SnapshotDml.Merge(
            source,
            keyCols,
            matchedClauses,
            notMatchedClauses,
            aliasOf(m.targetTable),
            aliasOf(m.sourceTable),
            nbsClauses,
            nbsBounds))

      // ───────── schema / constraint DDL (metadata-only commits) ─────────

      case r: RenameColumn =>
        val reg = registrationOf(spark, tableParts(r.table))
        SnapshotTable.renameColumn(
          spark,
          reg.root,
          resolveColumn(spark, reg.root, singleField(r.column.name, "RENAME COLUMN"))
            .getOrElse(singleField(r.column.name, "RENAME COLUMN")), // missing: renameColumn's own loud check
          r.newName)

      case a: AddColumns =>
        val reg = registrationOf(spark, tableParts(a.table))
        // shape-validate every column, then land the WHOLE statement as
        // ONE atomic schema commit (alterSchema) — all-or-nothing even
        // against a mid-statement crash
        a.columnsToAdd.foreach { qc =>
          require(qc.path.isEmpty, s"ADD COLUMN supports top-level columns only, got ${qc.name.mkString(".")}")
          require(qc.default.isEmpty, "ADD COLUMN ... DEFAULT is not supported (existing rows read the new column as null)")
          require(qc.position.isEmpty, "ADD COLUMN position clauses (FIRST/AFTER) are not supported")
          // existing rows necessarily read the new column as NULL, so a
          // NOT NULL add on a non-empty table is a contradiction — refuse
          // (Delta's rule); a silently-dropped constraint or comment would
          // violate the refused-not-approximated contract
          require(qc.nullable, s"ADD COLUMN ${qc.colName} NOT NULL is refused: existing rows read the new column as null")
          require(qc.comment.isEmpty, "ADD COLUMN ... COMMENT is not supported (the manifest schema carries no comments)")
        }
        SnapshotTable.alterSchema(
          spark,
          reg.root,
          a.columnsToAdd.map(qc => SnapshotTable.AddCol(qc.colName, qc.dataType)))

      // ALTER COLUMN ... TYPE <t>: lossless type WIDENING as a
      // metadata-only commit (old files upcast at scan time —
      // [[SnapshotTable.WidenCol]] validates the whitelist and refuses
      // everything else loudly). Nullability/comment/position/default
      // sub-clauses have no metadata home here — refuse, never drop.
      case a: AlterColumns =>
        val reg = registrationOf(spark, tableParts(a.table))
        val widens = a.specs.map { sp =>
          require(
            sp.newDataType.isDefined && sp.newNullability.isEmpty && sp.newComment.isEmpty &&
              sp.newPosition.isEmpty && sp.newDefaultExpression.isEmpty,
            "ALTER COLUMN supports TYPE widening only (no nullability/comment/position/default)")
          val n = singleField(sp.column.name, "ALTER COLUMN")
          SnapshotTable.WidenCol(resolveColumn(spark, reg.root, n).getOrElse(n), sp.newDataType.get)
        }
        SnapshotTable.alterSchema(spark, reg.root, widens)

      case d: DropColumns =>
        val reg = registrationOf(spark, tableParts(d.table))
        val names = d.columnsToDrop.map(f => singleField(f.name, "DROP COLUMN"))
        // resolve through the session's resolver (case-insensitive by
        // default, matching spark.sql semantics) against the manifest's
        // recorded schema — the same names alterSchema will validate
        val resolved = names.map(n => n -> resolveColumn(spark, reg.root, n))
        val toDrop =
          if (d.ifExists) resolved.flatMap(_._2)
          else
            resolved.map { case (n, r) =>
              r.getOrElse(sys.error(s"DROP COLUMN: no column '$n' in table schema"))
            }
        if (toDrop.isEmpty) SnapshotTable.latestVersion(spark, reg.root).get // IF EXISTS no-op
        // the whole statement is ONE metadata-only commit — atomic even
        // for multi-column drops (previously a version per column)
        else SnapshotTable.alterSchema(spark, reg.root, toDrop.map(SnapshotTable.DropCol(_)))

      case a: AddCheckConstraint =>
        // the parsed shape nests the target under Filter(NOT cond, relation);
        // the CheckConstraint expression itself carries name + SQL text.
        // The name must be USER-PROVIDED: on the unanalyzed tree the
        // generated fallback would bake a null table name + random suffix
        // into the manifest — unusable for a later DROP CONSTRAINT.
        val rel = a.child.collectFirst { case u: UnresolvedRelation => u }
          .getOrElse(sys.error(s"unsupported ADD CONSTRAINT target shape: ${a.child.getClass.getSimpleName}"))
        val reg = registrationOf(spark, rel.multipartIdentifier)
        val cc = a.checkConstraint
        require(
          cc.userProvidedName != null,
          "name the constraint: ALTER TABLE t ADD CONSTRAINT <name> CHECK (...)")
        SnapshotTable.addCheck(spark, reg.root, cc.userProvidedName, cc.condition)

      case d: DropConstraint =>
        val reg = registrationOf(spark, tableParts(d.table))
        val v = SnapshotTable.latestOrFail(spark, reg.root)
        val constraints = SnapshotTable.readManifest(spark, reg.root, v).constraints
        val resolver = spark.sessionState.conf.resolver
        constraints.keys.find(resolver(_, d.name)) match {
          case Some(actual) => SnapshotTable.dropCheck(spark, reg.root, actual)
          case None if d.ifExists => v // IF EXISTS no-op
          case None => sys.error(s"no constraint '${d.name}' on this table")
        }

      // ───────── table lifecycle (CREATE / CTAS / INSERT / DROP) ─────────
      // Registered snapshot tables are EXTERNAL-LOCATION tables (the
      // registry binds a session name to a table root): CREATE requires an
      // explicit LOCATION, and DROP unregisters the name — data and
      // history stay on disk (Delta's external-table semantics; vacuum is
      // the reclamation path). TBLPROPERTIES('morWrites'='true') selects
      // the merge-on-read DML route, same as register()'s flag.

      case c: CreateTable =>
        val (name, root, mor) = createTarget(c.name, c.tableSpec)
        c.columns.foreach { cd =>
          require(cd.defaultValue.isEmpty, s"column DEFAULT is not supported (${cd.name})")
          require(cd.generationExpression.isEmpty && cd.identityColumnSpec.isEmpty,
            s"generated/identity columns are not supported (${cd.name})")
        }
        val schema = org.apache.spark.sql.types.StructType(
          c.columns.map(cd => org.apache.spark.sql.types.StructField(cd.name, cd.dataType, cd.nullable)))
        // PARTITIONED BY maps to standing range clustering — the same
        // transform family and dominance argument as the catalog route
        // ([[ClusterTransforms]])
        val spec = ClusterTransforms.parse(schema, c.partitioning)
        val exists = SnapshotTable.latestVersion(spark, root).isDefined
        if (exists && c.ignoreIfExists) { register(spark, name, root, mor); 0 }
        else {
          require(!exists, s"snapshot table already exists at $root (use IF NOT EXISTS)")
          val v = SnapshotTable.create(
            spark,
            root,
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
            spec)
          register(spark, name, root, mor)
          v
        }

      case c: CreateTableAsSelect =>
        val (name, root, mor) = createTarget(c.name, c.tableSpec)
        // the AS SELECT resolves registered snapshot tables too (CTAS from
        // a snapshot, incl. time travel) — same core as MERGE's USING side
        val data: DataFrame = org.apache.spark.sql.GraftSqlBridge.ofRows(
          spark,
          substituteRegistered(spark, c.query))
        val spec = ClusterTransforms.parse(data.schema, c.partitioning)
        val exists = SnapshotTable.latestVersion(spark, root).isDefined
        if (exists && c.ignoreIfExists) { register(spark, name, root, mor); 0 }
        else {
          require(!exists, s"snapshot table already exists at $root (use IF NOT EXISTS)")
          val v = SnapshotTable.create(spark, root, data, spec)
          register(spark, name, root, mor)
          v
        }

      // REPLACE TABLE [AS SELECT] — one atomic `replace` commit adopting
      // the declared schema + cluster spec, clearing CHECK constraints,
      // history preserved (time travel reads prior versions at their
      // recorded schemas). Same semantics as the catalog's staged route
      // ([[GraftCatalog]] StagedGraftTable / [[SnapshotTable.replaceContents]]).
      case r: ReplaceTable =>
        val (name, root, mor) = createTarget(r.name, r.tableSpec)
        r.columns.foreach { cd =>
          require(cd.defaultValue.isEmpty, s"column DEFAULT is not supported (${cd.name})")
          require(cd.generationExpression.isEmpty && cd.identityColumnSpec.isEmpty,
            s"generated/identity columns are not supported (${cd.name})")
        }
        val schema = org.apache.spark.sql.types.StructType(
          r.columns.map(cd => org.apache.spark.sql.types.StructField(cd.name, cd.dataType, cd.nullable)))
        val spec = ClusterTransforms.parse(schema, r.partitioning)
        val exists = SnapshotTable.latestVersion(spark, root).isDefined
        require(exists || r.orCreate, s"no snapshot table at $root (use CREATE OR REPLACE)")
        val empty =
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        val v =
          if (exists) SnapshotTable.replaceContents(spark, root, empty, spec)
          else SnapshotTable.create(spark, root, empty, spec)
        register(spark, name, root, mor)
        v

      case r: ReplaceTableAsSelect =>
        val (name, root, mor) = createTarget(r.name, r.tableSpec)
        val data: DataFrame = org.apache.spark.sql.GraftSqlBridge.ofRows(
          spark,
          substituteRegistered(spark, r.query))
        val spec = ClusterTransforms.parse(data.schema, r.partitioning)
        val exists = SnapshotTable.latestVersion(spark, root).isDefined
        require(exists || r.orCreate, s"no snapshot table at $root (use CREATE OR REPLACE)")
        val v =
          if (exists) SnapshotTable.replaceContents(spark, root, data, spec)
          else SnapshotTable.create(spark, root, data, spec)
        register(spark, name, root, mor)
        v

      case i: InsertIntoStatement =>
        val reg = registrationOf(spark, tableParts(i.table))
        require(i.partitionSpec.isEmpty && !i.ifPartitionNotExists,
          "partition clauses are not supported (snapshot tables are unpartitioned; cluster with OPTIMIZE)")
        require(i.userSpecifiedCols.isEmpty,
          "INSERT column lists are not supported; project the query to the table schema")
        val data: DataFrame = org.apache.spark.sql.GraftSqlBridge.ofRows(
          spark,
          substituteRegistered(spark, i.query))
        // spark.sql positional-insert semantics: the query's columns map to
        // the table schema BY POSITION unless BY NAME was written —
        // append() matches by name, so rename positionally first (arity
        // must match; types are append's own loud check)
        val aligned =
          if (i.byName) data
          else {
            // field names come off the manifest's recorded schema — one
            // metadata read, never the full relation construction (which
            // for a MOR-masked table would build the whole mask-group
            // union plan just to be discarded)
            val target = SnapshotTable.schemaAt(spark, reg.root, SnapshotTable.latestOrFail(spark, reg.root))
            require(data.schema.length == target.length,
              s"INSERT query has ${data.schema.length} columns, table has ${target.length}")
            data.toDF(target.fieldNames.toSeq: _*)
          }
        if (i.overwrite) SnapshotTable.overwrite(spark, reg.root, aligned)
        else SnapshotTable.append(spark, reg.root, aligned)

      case d: DropTable =>
        val parts = d.child match {
          case id: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier => id.nameParts
          case other => tableParts(other)
        }
        require(!d.purge, "DROP TABLE ... PURGE is refused: vacuum() is the explicit reclamation path")
        // only bare single-part names address registrations (the query()
        // precedence contract): `DROP TABLE db.t` must never unbind a
        // same-named registration 't'
        require(
          parts.length == 1,
          s"DROP TABLE addresses registered snapshot tables by bare name, got ${parts.mkString(".")}")
        val name = parts.last.toLowerCase(java.util.Locale.ROOT)
        val known = sessionMap(spark).contains(name)
        if (!known && !d.ifExists)
          sys.error(s"'${parts.mkString(".")}' is not a registered snapshot table")
        // external-table semantics: the NAME goes away, the table root
        // (data + full history) stays readable by path
        unregister(spark, name)
        0

      case other =>
        sys.error(
          s"not a DML/DDL statement (${other.getClass.getSimpleName}); " +
            "reads go through SnapshotSql.query or spark.sql over SnapshotTable.relation views")
    }

  /** The (name, root, morWrites) of a CREATE target: name from the
    * unresolved identifier, root from the REQUIRED LOCATION clause,
    * morWrites from TBLPROPERTIES — with every clause this router would
    * otherwise silently drop refused loudly. */
  private def createTarget(
      nameplan: LogicalPlan,
      spec: TableSpecBase): (String, String, Boolean) = {
    val parts = nameplan match {
      case id: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier => id.nameParts
      case other => tableParts(other)
    }
    require(parts.length == 1, s"CREATE TABLE names a bare single-part identifier, got ${parts.mkString(".")}")
    spec match {
      case u: UnresolvedTableSpec =>
        u.provider.foreach(p =>
          require(p.equalsIgnoreCase("snapshot-table"), s"unsupported provider '$p' (USING `snapshot-table`)"))
        val root = u.location.getOrElse(
          sys.error("CREATE TABLE needs LOCATION '<table root>' — registrations are external-location tables"))
        val unknown = u.properties.keys.filterNot(_.equalsIgnoreCase("morWrites"))
        require(unknown.isEmpty, s"unsupported TBLPROPERTIES: ${unknown.mkString(", ")}")
        require(u.optionExpression.options.isEmpty, "OPTIONS are not supported on CREATE TABLE")
        require(u.constraints.isEmpty, "declare CHECK constraints via ALTER TABLE ... ADD CONSTRAINT")
        require(u.comment.isEmpty && u.collation.isEmpty && u.serde.isEmpty,
          "COMMENT/COLLATION/SERDE clauses are not supported")
        val mor = u.properties.collectFirst {
          case (k, v) if k.equalsIgnoreCase("morWrites") => v.equalsIgnoreCase("true")
        }.getOrElse(false)
        (parts.head, root, mor)
      case other => sys.error(s"unsupported CREATE TABLE spec shape: ${other.getClass.getSimpleName}")
    }
  }

  private def singleField(parts: Seq[String], what: String): String = {
    require(parts.length == 1, s"$what supports top-level columns only, got ${parts.mkString(".")}")
    parts.head
  }

  /** Resolve `name` to the table's ACTUAL column name through the
    * session's resolver (case-insensitive unless spark.sql.caseSensitive),
    * against the manifest's recorded schema — no relation construction. */
  private def resolveColumn(spark: SparkSession, root: String, name: String): Option[String] = {
    val v = SnapshotTable.latestOrFail(spark, root)
    val resolver = spark.sessionState.conf.resolver
    SnapshotTable
      .readManifest(spark, root, v)
      .schemaJson
      .map(SnapshotTable.schemaFromJson)
      .getOrElse(sys.error("schema DDL needs a schema-recording manifest"))
      .fieldNames
      .find(resolver(_, name))
  }

  /** SQL READS over registered snapshot tables — `SELECT`s whose FROM
    * names a registered table resolve to the Catalyst-integrated relation
    * (manifest-stat pushdown pruning, no temp view needed), including
    * TIME TRAVEL: `... FROM snap VERSION AS OF 3` pins that committed
    * snapshot and `... FROM snap TIMESTAMP AS OF '<ts>'` resolves the
    * wall-clock timestamp through the manifests' publish times
    * ([[SnapshotTable.versionAsOf]]). Unregistered names pass through to
    * the ordinary analyzer (temp views, catalog tables) — this is a
    * NAME-RESOLUTION layer, not a dialect. */
  def query(spark: SparkSession, sql: String): DataFrame = sql match {
    // the destructive sweep's PREVIEW (a read, hence here): the exact
    // would-delete report with zero filesystem writes
    case VacuumDryRe(name, n, hours) =>
      import spark.implicits._
      val reg = maintenanceReg(spark, name)
      SnapshotTable
        .vacuum(
          spark,
          reg.root,
          keepLast = n.toInt,
          minAgeMs = Option(hours).map(_.toLong * 3600000L).getOrElse(0L),
          dryRun = true)
        .toDF("would_delete")
    // DESCRIBE HISTORY (Delta parity; not Spark grammar → regex-routed
    // like the maintenance statements): the ONE commit-log surface
    // ([[SnapshotTable.historyDf]]), newest first — one metadata read per
    // version, no data I/O
    case DescribeHistoryRe(name) =>
      val reg = maintenanceReg(spark, name)
      SnapshotTable
        .historyDf(spark, reg.root)
        .orderBy(org.apache.spark.sql.functions.col("version").desc)
    // DESCRIBE DETAIL (Delta parity): the table's current shape in one
    // row — a LITE manifest read (no per-file stats parse) + the
    // checkpoint listing, zero data I/O
    case DescribeDetailRe(name) =>
      import spark.implicits._
      val reg = maintenanceReg(spark, name)
      val v = SnapshotTable.latestOrFail(spark, reg.root)
      val m = SnapshotTable.readManifest(spark, reg.root, v)
      Seq(
        (
          name.toLowerCase(java.util.Locale.ROOT),
          reg.root,
          v,
          m.files.size,
          m.files.map(_.rows).sum,
          m.files.map(f => math.max(f.bytes, 0L)).sum,
          m.masks.size,
          m.constraints.size,
          m.dropped.size,
          SnapshotTable.latestCheckpoint(spark, reg.root),
          reg.morWrites))
        .toDF(
          "name", "location", "version", "num_files", "total_rows", "total_bytes",
          "n_masks", "n_constraints", "n_dropped_columns", "checkpoint_version", "mor_writes")
    // refs introspection: every branch with its fork and current tip,
    // every tag with its pinned version — metadata listings, no data I/O
    case ShowBranchesRe(name) =>
      import spark.implicits._
      val reg = maintenanceReg(spark, name)
      SnapshotTable
        .branches(spark, reg.root)
        .map { case (b, fork) =>
          (b, fork, SnapshotTable.latestVersion(spark, SnapshotTable.branchRef(reg.root, b)).getOrElse(fork))
        }
        .toDF("branch", "fork_version", "latest_version")
    case ShowTagsRe(name) =>
      import spark.implicits._
      SnapshotTable
        .tags(spark, maintenanceReg(spark, name).root)
        .toDF("tag", "version")
    // the session's registrations (SHOW TABLES' snapshot analogue)
    case ShowTablesRe() =>
      import spark.implicits._
      sessionMap(spark).toSeq
        .sortBy(_._1)
        .map { case (n, r) => (n, r.root, r.morWrites) }
        .toDF("name", "location", "mor_writes")
    case _ =>
      org.apache.spark.sql.GraftSqlBridge.ofRows(
        spark,
        substituteRegistered(spark, spark.sessionState.sqlParser.parsePlan(sql)))
  }

  /** Registered-name substitution over an UNANALYZED plan — the shared
    * resolution core of [[query]] and MERGE's USING side. */
  private def substituteRegistered(
      spark: SparkSession,
      plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedTableValuedFunction}
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.TimestampType
    // Resolution precedence must MATCH spark.sql's, not invert it:
    //  - only a bare SINGLE-PART name can mean a registered snapshot
    //    table (a qualified db.t reference is a catalog table — silently
    //    hijacking it on its last part would return wrong data);
    //  - a name bound by a CTE in this statement, or by a temp view in
    //    this session, wins over a same-named registration (exactly where
    //    spark.sql would resolve it).
    val cteNames: Set[String] = plan
      .collectWithSubqueries { case w: UnresolvedWith => w.cteRelations.map(_._1) }
      .flatten
      .map(_.toLowerCase(java.util.Locale.ROOT))
      .toSet
    def regOf(r: UnresolvedRelation): Option[Registration] =
      if (r.multipartIdentifier.length != 1) None
      else {
        val name = r.multipartIdentifier.head.toLowerCase(java.util.Locale.ROOT)
        if (cteNames.contains(name)) None
        else if (spark.sessionState.catalog.isTempView(r.multipartIdentifier)) None
        else sessionMap(spark).get(name)
      }
    def aliased(name: String, df: DataFrame): LogicalPlan =
      SubqueryAlias(name, df.queryExecution.logical)
    val substituted = plan.transformDownWithSubqueries {
      case tt: RelationTimeTravel =>
        tt.relation match {
          case r: UnresolvedRelation if regOf(r).isDefined =>
            val reg = regOf(r).get
            // a non-numeric VERSION AS OF is a REF name (Iceberg's
            // contract): a tag resolves to its pinned version, a branch
            // to the branch's current tip relation — checked in that
            // order
            val refRelation = tt.version.filter(!_.forall(_.isDigit)).map { refName =>
              SnapshotTable.tags(spark, reg.root).collectFirst {
                case (t, tv) if t == refName => tv
              } match {
                case Some(tv) => SnapshotTable.relationVersion(spark, reg.root, tv)
                case None =>
                  require(
                    SnapshotTable.branches(spark, reg.root).exists(_._1 == refName),
                    s"VERSION AS OF '$refName': no tag or branch of that name")
                  SnapshotTable.relation(spark, SnapshotTable.branchRef(reg.root, refName))
              }
            }
            if (refRelation.isDefined) aliased(r.multipartIdentifier.last, refRelation.get)
            else {
            val v = tt.version
              .map(_.toInt)
              .getOrElse {
                val e = tt.timestamp.getOrElse(sys.error("time travel needs VERSION or TIMESTAMP"))
                // literal timestamps only: the tree is unanalyzed, so a
                // function expression (now() - INTERVAL ...) cannot be
                // evaluated here — refuse loudly, never guess
                val micros =
                  try Cast(e, TimestampType, Some(spark.sessionState.conf.sessionLocalTimeZone))
                    .eval(null)
                  catch {
                    case scala.util.control.NonFatal(_) =>
                      sys.error(s"TIMESTAMP AS OF requires a literal timestamp, got: ${e.sql}")
                  }
                require(micros != null, s"invalid TIMESTAMP AS OF value: ${e.sql}")
                SnapshotTable.versionAsOf(
                  spark, reg.root, Math.floorDiv(micros.asInstanceOf[Long], 1000L))
              }
            aliased(
              r.multipartIdentifier.last,
              SnapshotTable.relationVersion(spark, reg.root, v))
            }
          case _ => tt
        }
      case r: UnresolvedRelation if regOf(r).isDefined =>
        aliased(r.multipartIdentifier.last, SnapshotTable.relation(spark, regOf(r).get.root))
      // the change-data-feed TVF (Delta's table_changes):
      // SELECT ... FROM table_changes('snap', fromV, toV)
      case tvf: UnresolvedTableValuedFunction
          if tvf.name.map(_.toLowerCase(java.util.Locale.ROOT)) == Seq("table_changes") =>
        // STRICT literal typing — a name that isn't a non-null string, or
        // a version that isn't a non-null integral literal, is refused
        // loudly (never cast, never truncated: '1.5' silently becoming
        // version 1 would violate the refused-not-approximated contract)
        def intLit(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, dt) if v != null =>
            import org.apache.spark.sql.types._
            dt match {
              case ByteType | ShortType | IntegerType | LongType =>
                val l = v.asInstanceOf[Number].longValue()
                require(l >= 0 && l <= Int.MaxValue, s"table_changes: $what out of range: $l")
                l.toInt
              case other =>
                sys.error(s"table_changes: $what must be an integer version literal, got ${e.sql} ($other)")
            }
          case other =>
            sys.error(s"table_changes: $what must be an integer version literal, got ${other.sql}")
        }
        tvf.functionArgs match {
          case Seq(
                org.apache.spark.sql.catalyst.expressions.Literal(n, org.apache.spark.sql.types.StringType),
                f,
                t) if n != null =>
            val reg = sessionMap(spark).getOrElse(
              String.valueOf(n).toLowerCase(java.util.Locale.ROOT),
              sys.error(s"table_changes: '$n' is not a registered snapshot table"))
            aliased(
              "table_changes",
              SnapshotTable.changesBetween(
                spark,
                reg.root,
                intLit(f, "fromVersion"),
                intLit(t, "toVersion")))
          case other =>
            sys.error("table_changes takes ('<registered table>', fromVersion, toVersion) literals, " +
              s"got ${other.map(_.sql).mkString(", ")}")
        }
    }
    substituted
  }

  /** MERGE sources arrive as `SubqueryAlias(s, plan)`; the alias only
    * exists for ON-clause qualification, which [[keysOf]] already
    * consumed — analyze the inner plan. */
  private def stripAlias(plan: LogicalPlan): LogicalPlan = plan match {
    case SubqueryAlias(_, child) => child
    case p => p
  }

  /** The row alias a MERGE side's clause conditions qualify columns by:
    * the statement's explicit alias if present, else the relation name's
    * last part (how Spark itself resolves `tbl.col`). */
  private def aliasOf(plan: LogicalPlan): String = plan match {
    case SubqueryAlias(id, _) => id.name
    case r: UnresolvedRelation => r.multipartIdentifier.last
    case _ => "__src" // aliasless subquery source: columns resolve unqualified
  }
}
