package graft.sinks

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{
  NoSuchNamespaceException,
  NoSuchTableException,
  TableAlreadyExistsException
}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Snapshot tables as a SQL CATALOG (SURVEY §2.J `cap_catalog`) — the
  * integration surface that makes the engine reachable from PLAIN SQL in
  * any Spark session, no registration calls:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", "graft.sinks.GraftCatalog")
  * spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/tables")
  * spark.sql("SELECT * FROM graft.sales.orders")             // read
  * spark.sql("SELECT * FROM graft.sales.orders VERSION AS OF 3")
  * spark.sql("INSERT INTO graft.sales.orders SELECT ...")    // txn append
  * spark.sql("CREATE TABLE graft.sales.t2 AS SELECT ...")    // CTAS
  * }}}
  *
  * Identifiers map to WAREHOUSE PATHS (`graft.ns1.ns2.t` →
  * `<warehouse>/ns1/ns2/t` — the Hadoop-catalog convention): the
  * manifest log IS the metadata, so the catalog is stateless and two
  * sessions pointing at the same warehouse see the same tables with no
  * metastore. Reads resolve through [[GraftTable]] (native pruned DSv2
  * batches, renamed columns included; V1Scan fallback only under
  * pending merge-on-read masks); `VERSION AS
  * OF` takes a version number OR a tag/branch name, `TIMESTAMP AS OF`
  * resolves through manifest publish times. Writes route onto the
  * TRANSACTIONAL operators via the V1Write bridge — `INSERT INTO` is an
  * [[SnapshotTable.append]] commit, `INSERT OVERWRITE` an
  * [[SnapshotTable.overwrite]] — so a SQL write is a real atomic commit
  * with schema-evolution and CHECK enforcement, never a bare directory.
  * `ALTER TABLE` maps column changes onto the METADATA-ONLY DDL
  * operators (add/rename/drop — zero data rewrite at any size);
  * unsupported change shapes refuse loudly. `DROP TABLE` removes the
  * table tree (point other maintenance — vacuum, optimize, refs — at
  * the programmatic/SnapshotSql surfaces). */
final class GraftCatalog
    extends TableCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark = SparkSession.active
  private def fsOf(p: Path) = p.getFileSystem(spark.sessionState.newHadoopConf())

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      sys.error(s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse=<dir>"))
  }

  override def name(): String = catalogName

  /** Every identifier / namespace segment becomes a PATH component, and
    * dropTable/dropNamespace recursively delete what the path points at —
    * so a backtick-quoted segment containing '..', a path separator, or
    * the internal branch-ref separator must refuse BEFORE any filesystem
    * touch (it would escape the warehouse or misroute through splitRef).
    * The Hadoop-catalog convention: unsafe identifiers are rejected, never
    * normalized. */
  private def safe(segments: Seq[String]): Seq[String] = {
    segments.foreach { s =>
      require(
        s.nonEmpty && s != "." && s != ".." &&
          !s.contains("/") && !s.contains("\\") &&
          !s.contains("#") && // RefSep's prefix AND Hadoop Path's URI-fragment separator
          s.forall(c => c > ' '), // control bytes and spaces break Path's URI parse
        s"unsafe identifier segment '$s' — segments must be non-empty and contain no " +
          "path separators, '.'/'..', '#', spaces, or control bytes")
    }
    segments
  }

  private def rootOf(ident: Identifier): String =
    (warehouse +: safe(ident.namespace.toSeq :+ ident.name)).mkString("/")

  /** A procedure's dotted `'ns.t'` argument → the validated table root
    * (the same safe() gate as identifiers — a procedure arg must not
    * escape the warehouse either). */
  private[sinks] def tableRootOf(dotted: String): String = {
    val parts = dotted.split('.').toSeq
    val root = (warehouse +: safe(parts)).mkString("/")
    require(isTable(root), s"no snapshot table at ${name()}.${parts.mkString(".")}")
    root
  }

  // ───────── maintenance procedures: CALL <catalog>.system.<proc>(...) ─────────
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(this, namespace)

  private def isTable(root: String): Boolean =
    SnapshotTable.latestVersion(spark, root).isDefined

  override def tableExists(ident: Identifier): Boolean = isTable(rootOf(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: safe(namespace.toSeq)).mkString("/"))
    val f = fsOf(dir)
    if (!f.exists(dir) || insideTable(namespace)) throw new NoSuchNamespaceException(namespace)
    f.listStatus(dir)
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => isTable((warehouse +: namespace.toSeq :+ n).mkString("/")))
      .sorted
      .map(n => Identifier.of(namespace, n))
  }

  private def tableAt(ident: Identifier, v: Int, writable: Boolean): Table = {
    val root = rootOf(ident)
    new GraftTable(spark, root, v, SnapshotTable.schemaAt(spark, root, v), writable)
  }

  override def loadTable(ident: Identifier): Table = {
    val root = rootOf(ident)
    val v = SnapshotTable
      .latestVersion(spark, root)
      .getOrElse(throw new NoSuchTableException(ident))
    tableAt(ident, v, writable = true)
  }

  /** `VERSION AS OF <v | 'tag' | 'branch'>` — same resolution as the SQL
    * registry: digits = a version number, otherwise a tag's pinned
    * version or a branch's tip. Time travel is read-only. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = rootOf(ident)
    val latest = SnapshotTable
      .latestVersion(spark, root)
      .getOrElse(throw new NoSuchTableException(ident))
    if (version.nonEmpty && version.forall(_.isDigit)) {
      val v = scala.util.Try(version.toInt).getOrElse(
        sys.error(s"version '$version' is not a representable version number"))
      require(v >= 1 && v <= latest, s"version $v is outside the committed history (1..$latest)")
      tableAt(ident, v, writable = false)
    }
    else
      SnapshotTable.tags(spark, root).toMap.get(version) match {
        case Some(v) => tableAt(ident, v, writable = false)
        case None =>
          val branch = SnapshotTable.branches(spark, root).collectFirst {
            case (b, fork) if b == version => (SnapshotTable.branchRef(root, b), fork)
          }
          val (bRoot, fork) = branch.getOrElse(sys.error(s"no tag or branch '$version' at $root"))
          // a branch resolves to its TIP through its own manifest log
          val bv = SnapshotTable.latestVersion(spark, bRoot).getOrElse(fork)
          new GraftTable(spark, bRoot, bv, SnapshotTable.schemaAt(spark, bRoot, bv), writable = false)
      }
  }

  /** `TIMESTAMP AS OF` — Spark hands epoch MICROSECONDS. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = rootOf(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    tableAt(ident, SnapshotTable.versionAsOf(spark, root, timestamp / 1000L), writable = false)
  }

  private def parseClusterSpec(
      schema: StructType,
      partitions: Array[Transform]): Seq[(String, String)] =
    ClusterTransforms.parse(schema, partitions)

  /** refuse-not-approximate: TBLPROPERTIES/COMMENT have nowhere to live
    * in a stateless catalog, and LOCATION/EXTERNAL would be silently
    * IGNORED (identifiers map to warehouse paths by contract) — a table
    * "created at /x" that actually lives under the warehouse is a lie.
    * Bookkeeping keys Spark injects on every CREATE pass through — keyed
    * to TableCatalog's reserved-property CONSTANTS (not a literal set) so
    * a future Spark adding a new internal key doesn't break every CREATE;
    * keys a user can actually WRITE (comment/location/external/collation/
    * OPTIONS and arbitrary TBLPROPERTIES) refuse loudly. */
  private def validateProps(properties: util.Map[String, String]): Unit = {
    val bookkeeping = Set(
      TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_OWNER,
      TableCatalog.PROP_TABLE_TYPE,
      TableCatalog.PROP_IS_MANAGED_LOCATION)
    val userProps = properties
      .keySet()
      .toArray(Array.empty[String])
      .filterNot(bookkeeping)
    require(
      userProps.isEmpty,
      s"graft tables carry no table properties, comments, or explicit locations " +
        s"(identifiers map to warehouse paths; the manifest log is the metadata); " +
        s"got ${userProps.mkString(", ")}")
  }

  private def emptyOf(schema: StructType): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val clusterSpec = parseClusterSpec(schema, partitions)
    validateProps(properties)
    val root = rootOf(ident)
    if (isTable(root)) throw new TableAlreadyExistsException(ident)
    // an empty v1 carrying the declared schema + cluster spec
    SnapshotTable.create(spark, root, emptyOf(schema), clusterSpec)
    tableAt(ident, 1, writable = true)
  }

  // ---- ATOMIC CTAS / RTAS (StagingTableCatalog) ----------------------
  // Because the catalog stages, Spark plans Atomic{Create,Replace}TableAsSelectExec
  // and AtomicReplaceTableExec instead of the drop-then-create fallback:
  //  - CTAS lands the query data as ONE atomic v1 commit (no empty-v1 +
  //    append window where a crash leaves an empty table);
  //  - REPLACE TABLE [AS SELECT] becomes ONE `replace` commit that adopts
  //    the staged schema/cluster spec, clears CHECK constraints (a fresh
  //    declaration), and — unlike the non-staged drop-and-recreate —
  //    PRESERVES HISTORY: prior versions stay time-travel-readable at
  //    their recorded schemas.
  // The staged write IS the atomic commit (manifest put-if-absent), so
  // commitStagedChanges only has work for the data-less REPLACE TABLE
  // form, and abort never has a half-published state to clean — at most
  // a create-mode debris tree that no manifest ever referenced.

  override def stageCreate(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (isTable(rootOf(ident))) throw new TableAlreadyExistsException(ident)
    staged(ident, schema, partitions, properties, replace = false)
  }

  override def stageReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!isTable(rootOf(ident))) throw new NoSuchTableException(ident)
    staged(ident, schema, partitions, properties, replace = true)
  }

  override def stageCreateOrReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    staged(ident, schema, partitions, properties, replace = isTable(rootOf(ident)))

  private def staged(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String],
      replace: Boolean): org.apache.spark.sql.connector.catalog.StagedTable = {
    val spec = parseClusterSpec(schema, partitions)
    validateProps(properties)
    new StagedGraftTable(rootOf(ident), schema, spec, replace)
  }

  private final class StagedGraftTable(
      root: String,
      declaredSchema: StructType,
      spec: Seq[(String, String)],
      replace: Boolean)
      extends org.apache.spark.sql.connector.catalog.StagedTable
      with org.apache.spark.sql.connector.catalog.SupportsWrite {
    import org.apache.spark.sql.connector.catalog.TableCapability

    @volatile private var written = false

    override def name(): String = s"graft.`$root`@staged"
    override def schema(): StructType = declaredSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder =
      new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
        // replace-vs-create is the STAGE's mode; a truncate request from
        // the RTAS write path adds nothing the mode doesn't already say
        override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = this
        override def build(): org.apache.spark.sql.connector.write.Write =
          new org.apache.spark.sql.connector.write.V1Write {
            override def toInsertableRelation
                : org.apache.spark.sql.sources.InsertableRelation =
              new org.apache.spark.sql.sources.InsertableRelation {
                override def insert(data: org.apache.spark.sql.DataFrame, ov: Boolean): Unit = {
                  if (replace) SnapshotTable.replaceContents(spark, root, data, spec)
                  else SnapshotTable.create(spark, root, data, spec)
                  written = true
                }
              }
          }
      }

    override def commitStagedChanges(): Unit =
      if (!written) {
        // the data-less forms: REPLACE TABLE re-declares as one empty
        // `replace` commit; a staged CREATE without a write lands the
        // same empty v1 plain createTable would
        if (replace) SnapshotTable.replaceContents(spark, root, emptyOf(declaredSchema), spec)
        else SnapshotTable.create(spark, root, emptyOf(declaredSchema), spec)
        written = true
      }

    override def abortStagedChanges(): Unit =
      // nothing half-published can exist: the write is one manifest
      // put-if-absent. Clean the create-mode debris tree only while no
      // manifest was ever published (a replace-mode failed write leaves
      // an orphan data dir for vacuum, same as any failed writer)
      if (!written && !replace && SnapshotTable.latestVersion(spark, root).isEmpty) {
        val p = new Path(root)
        val f = fsOf(p)
        if (f.exists(p)) { f.delete(p, true); () }
      }
  }

  /** Column changes map onto the METADATA-ONLY DDL operators (zero data
    * rewrite at any table size) and land as ONE atomic manifest commit
    * ([[SnapshotTable.alterSchema]]) — a multi-change statement is
    * all-or-nothing: a refusal anywhere (shape here, schema semantics
    * inside alterSchema, validated sequentially against the schema as
    * the previous changes left it) throws before the single publish, and
    * a mid-statement crash leaves either the old schema or the complete
    * new one, never a committed prefix. Anything beyond column
    * add/rename/drop refuses loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = rootOf(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    val translated: Seq[SnapshotTable.SchemaChange] = changes.toSeq.map {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1, "nested ADD COLUMN is not supported")
        require(
          add.isNullable,
          s"ADD COLUMN ${add.fieldNames.head} NOT NULL is not honorable: existing rows read " +
            "the new column as NULL (add nullable, backfill, then add a CHECK)")
        require(
          add.position == null,
          "ADD COLUMN ... FIRST/AFTER is not supported; new columns append")
        require(
          add.defaultValue == null,
          "ADD COLUMN ... DEFAULT is not supported; backfill with UPDATE")
        SnapshotTable.AddCol(add.fieldNames.head, add.dataType)
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames.length == 1, "nested RENAME COLUMN is not supported")
        SnapshotTable.RenameCol(ren.fieldNames.head, ren.newName)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1, "nested DROP COLUMN is not supported")
        SnapshotTable.DropCol(del.fieldNames.head)
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames.length == 1, "nested ALTER COLUMN is not supported")
        // lossless widenings only — validated (and refused loudly
        // otherwise) inside alterSchema; old files upcast at scan time
        SnapshotTable.WidenCol(upd.fieldNames.head, upd.newDataType)
      case other =>
        sys.error(
          s"unsupported ALTER TABLE change $other — the graft catalog maps add/rename/drop " +
            "column onto the metadata-only operators; constraints and maintenance go through " +
            "SnapshotTable/SnapshotSql")
    }
    SnapshotTable.alterSchema(spark, root, translated)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    if (!isTable(root)) false
    else {
      val p = new Path(root)
      val ok = fsOf(p).delete(p, true)
      // manifest resolution consults the fork cache before disk — a stale
      // entry would serve a recreated table's data for a dropped branch
      SnapshotTable.invalidateForks(root)
      ok
    }
  }

  // ───────── namespaces: directories under the warehouse, nothing more ─────────
  // A namespace EXISTS iff its directory does; metadata is empty (the
  // catalog is stateless by design). Listing skips table roots (a dir
  // with a manifest log is a TABLE, not a namespace).

  private def nsPath(ns: Array[String]): Path =
    new Path((warehouse +: safe(ns.toSeq)).mkString("/"))

  /** True when the namespace path OR any ancestor component is a TABLE
    * root — namespaces never live inside a table tree. */
  private def insideTable(ns: Array[String]): Boolean =
    (1 to ns.length).exists(i => isTable((warehouse +: ns.take(i).toSeq).mkString("/")))

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val p = nsPath(namespace)
    val f = fsOf(p)
    f.exists(p) && f.getFileStatus(p).isDirectory && !insideTable(namespace)
  }

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val p = nsPath(namespace)
    val f = fsOf(p)
    // a TABLE root is not a namespace: listing "inside" one would leak
    // its internal dirs (data/, _manifests) as phantom namespaces
    if (!f.exists(p) || insideTable(namespace)) throw new NoSuchNamespaceException(namespace)
    f.listStatus(p)
      .filter(s =>
        s.isDirectory && !s.getPath.getName.startsWith("_") &&
          !isTable(s.getPath.toString))
      .map(s => namespace :+ s.getPath.getName)
      .sortBy(_.mkString("."))
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(
      namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    // Spark injects reserved props (owner) on every CREATE NAMESPACE;
    // user-supplied properties have nowhere to live in a stateless catalog
    val userProps = metadata.keySet().toArray(Array.empty[String]).filterNot(_ == "owner")
    require(
      userProps.isEmpty,
      s"graft namespaces carry no metadata (the catalog is stateless); got ${userProps.mkString(", ")}")
    val p = nsPath(namespace)
    if (namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException(namespace)
    // a TABLE root (or anything under one) is not a namespace: "creating"
    // it would report success while SHOW NAMESPACES never lists it, and
    // its children would nest inside a live table tree
    require(
      !insideTable(namespace),
      s"${namespace.mkString(".")} is (or sits inside) a snapshot TABLE, not a namespace")
    // '_'-prefixed dirs are reserved for table internals and filtered
    // from discovery — a namespace there would exist but never list
    require(
      namespace.forall(!_.startsWith("_")),
      s"namespace segments must not start with '_' (reserved for table internals): ${namespace.mkString(".")}")
    fsOf(p).mkdirs(p)
    ()
  }

  override def alterNamespace(
      namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    sys.error("graft namespaces carry no metadata to alter (the catalog is stateless)")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val p = nsPath(namespace)
    val f = fsOf(p)
    if (!cascade && f.listStatus(p).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(namespace)
    val ok = f.delete(p, true)
    // a CASCADE drop deletes every table tree underneath — their cached
    // branch forks are as stale as dropTable's (same wrong-data hazard).
    // The prefix must be the RAW string join rootOf builds cache keys
    // from, not Path.toString (which normalizes schemes/slashes and
    // would miss every key under a 'file:///…' or trailing-slash
    // warehouse setting)
    SnapshotTable.invalidateForksUnder((warehouse +: safe(namespace.toSeq)).mkString("/"))
    ok
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = new Path(rootOf(oldIdent))
    val to = new Path(rootOf(newIdent))
    val f = fsOf(from)
    if (!isTable(rootOf(oldIdent))) throw new NoSuchTableException(oldIdent)
    if (isTable(rootOf(newIdent))) throw new TableAlreadyExistsException(newIdent)
    f.mkdirs(to.getParent)
    require(f.rename(from, to), s"rename $from -> $to failed")
    // both roots: the old one's forks are gone, and anything cached at
    // the new root (a prior table dropped there) is equally stale
    SnapshotTable.invalidateForks(rootOf(oldIdent))
    SnapshotTable.invalidateForks(rootOf(newIdent))
  }
}

/** Shared `PARTITIONED BY` transform → cluster-spec translation for the
  * catalog ([[GraftCatalog.createTable]]/staging) and the path-based SQL
  * router ([[SnapshotSql]] CREATE/REPLACE). See the dominance argument at
  * [[SnapshotTable.ClusterXformKey]]. */
private[sinks] object ClusterTransforms {
  // PARTITIONED BY maps onto the engine's clustering stance: each
    // transform's SOURCE column joins the table's standing
    // range-clustering key (persisted in the schema's field metadata, see
    // [[SnapshotTable.withClusterSpec]]) — every write range-clusters on
    // those columns, so manifest min/max stats give file-level pruning
    // that DOMINATES what the declared transform's hive/iceberg layout
    // would prune: temporal transforms and truncate are order-preserving
    // (a day/month/prefix range is a source-column range at coarser
    // granularity), and bucket's one prunable predicate — key equality —
    // resolves to ~1 file on a range-clustered key instead of a whole
    // bucket. The DECLARED transform is recorded verbatim so DESCRIBE /
    // partitioning() round-trip the user's DDL. Transforms outside this
    // family (unknown names, multi-column references) still refuse
    // loudly rather than approximate.
  def parse(
      schema: StructType,
      partitions: Seq[Transform]): Seq[(String, String)] = {
    // the session's resolver (case-insensitive unless spark.sql.caseSensitive,
    // the same stance as SnapshotSql.resolveColumn): the returned spec
    // carries the table's ACTUAL column casing, not the DDL's
    val resolver = SparkSession.active.sessionState.conf.resolver
    val clusterSpec: Seq[(String, String)] = partitions.toSeq.map { t =>
      def col: String = {
        require(
          t.references.length == 1 && t.references.head.fieldNames.length == 1,
          s"unsupported partition transform '$t' — one top-level source column per transform")
        val written = t.references.head.fieldNames.head
        schema.fieldNames.find(resolver(_, written)).getOrElse(
          sys.error(s"PARTITIONED BY column '$written' is not a column of the table schema"))
      }
      def width: Int = t
        .arguments()
        .collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value() match {
              case i: java.lang.Integer => i.intValue()
              case i: java.lang.Long => i.longValue().toInt
              case other => sys.error(s"partition transform '$t': non-integer width '$other'")
            }
        }
        .getOrElse(sys.error(s"partition transform '$t' needs a literal width"))
      def temporal(name: String): (String, String) = {
        val c = col // already resolved to the table's casing
        val dt = schema.fields.find(_.name == c).map(_.dataType).get
        require(
          dt.isInstanceOf[org.apache.spark.sql.types.DateType] ||
            dt.isInstanceOf[org.apache.spark.sql.types.TimestampType] ||
            dt.isInstanceOf[org.apache.spark.sql.types.TimestampNTZType],
          s"PARTITIONED BY $name($c) needs a date/timestamp column; '$c' is ${dt.sql}")
        c -> name
      }
      t.name match {
        case "identity" => col -> "identity"
        case "bucket" =>
          val n = width
          require(n > 0, s"bucket($n): bucket count must be positive")
          col -> s"bucket($n)"
        case "truncate" =>
          val n = width
          require(n > 0, s"truncate($n): width must be positive")
          col -> s"truncate($n)"
        case n @ ("years" | "months" | "days" | "hours") => temporal(n)
        case other =>
          sys.error(
            s"unsupported partition transform '$other' in '$t' — graft tables map " +
              "identity/bucket/truncate/years/months/days/hours PARTITIONED BY transforms " +
              "to range clustering on the source column (cluster further with " +
              "OPTIMIZE ... ZORDER BY)")
      }
    }
    // col() already resolved every source column against the schema;
    // duplicates are checked on the RESOLVED names (dAYS(ts) + bucket(4, TS)
    // is the same source column twice under the default resolver)
    require(
      clusterSpec.map(_._1).distinct.size == clusterSpec.size,
      s"PARTITIONED BY references a source column twice: " +
        clusterSpec.map { case (c, xf) => s"$xf on $c" }.mkString(", "))
    clusterSpec
  }
}
