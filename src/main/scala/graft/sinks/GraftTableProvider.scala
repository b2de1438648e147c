package graft.sinks

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{sources, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  Batch,
  InputPartition,
  PartitionReader,
  PartitionReaderFactory,
  Scan,
  ScanBuilder,
  SupportsPushDownFilters,
  SupportsPushDownRequiredColumns,
  V1Scan
}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The snapshot table as a DataSourceV2 `TableProvider` —
  * `spark.read.format("graft").load(root)` (SURVEY §2.J `cap_dsv2_read`),
  * the connector-API integration surface external tools expect: the same
  * read options as the V1 `snapshot-table` format (`branch`,
  * `versionAsOf` / `timestampAsOf` / `tag` — [[SnapshotReadOptions]]),
  * resolved through the SAME manifest machinery.
  *
  * Scale shape: any UNMASKED table — renamed columns included (the scan
  * translates logical↔physical names at its edges; rows are positional)
  * — plans a NATIVE DSv2 batch — `planInputPartitions`
  * enumerates exactly the manifest's live files AFTER min/max/bloom
  * pruning against the pushed filters ([[SnapshotFileIndex]] — a
  * predicate that annihilates a file by stats drops it from the
  * partition list, zero I/O), and each partition reads its parquet file
  * through the standard codegen'd reader with the filters pushed to
  * row-group granularity too. Every pushed filter is ALSO returned to
  * Spark for row-level re-evaluation (`pushFilters` returns its input),
  * so pruning is a pure optimization — correctness never depends on a
  * stats proof. Only a snapshot with PENDING merge-on-read masks falls
  * back to a [[V1Scan]] over [[SnapshotTable.relationVersion]] (the mask
  * anti-joins need the relation replay, with per-group FileIndex pruning
  * underneath — the distributed-anti-join shape that scales with the
  * tombstone sidecar; compaction reconciles masks and restores the
  * native path). Writes stay on the transactional
  * V1 route (`format("snapshot-table").save`) — every write is a real
  * commit, never a bare directory. */
final class GraftTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def params(options: CaseInsensitiveStringMap): Map[String, String] =
    Seq("path", "root", "branch", "tag", "versionAsOf", "timestampAsOf")
      .flatMap(k => Option(options.get(k)).map(k -> _))
      .toMap

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val p = params(options)
    val root = SnapshotReadOptions.root(p)
    val v = SnapshotReadOptions.timeTravelVersion(spark, root, p)
    SnapshotTable.schemaAt(spark, root, v)
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val spark = SparkSession.active
    val p = params(new CaseInsensitiveStringMap(properties))
    val root = SnapshotReadOptions.root(p)
    val v = SnapshotReadOptions.timeTravelVersion(spark, root, p)
    // only a current (non-time-travel) handle takes writes
    val pinned = Seq("versionAsOf", "timestampAsOf", "tag").exists(p.contains)
    new GraftTable(spark, root, v, schema, writable = !pinned)
  }
}

private[sinks] final class GraftTable(
    spark: SparkSession,
    val root: String,
    val v: Int,
    override val schema: StructType,
    val writable: Boolean = false)
    extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  override def name(): String = s"graft.`$root`@v$v"

  /** `TRUNCATE TABLE` — one atomic `overwrite` commit with an empty
    * batch: the schema, cluster spec, and CHECK constraints survive
    * (carry rules of any overwrite), and the truncated-away versions
    * stay time-travel-readable until vacuum. The schema is read from the
    * LATEST manifest at truncate time, not the handle's load-time version
    * — a schema change committed by a concurrent writer between loadTable
    * and TRUNCATE must survive (TRUNCATE only empties the table, it never
    * reverts DDL). */
  override def truncateTable(): Boolean = {
    require(writable, s"${name()} is a time-travel/pinned handle — TRUNCATE targets the current table")
    val latest = SnapshotTable.latestVersion(spark, root).getOrElse(v)
    SnapshotTable.overwrite(
      spark, root,
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        SnapshotTable.schemaFromJson(
          SnapshotTable.readManifest(spark, root, latest).schemaJson
            .getOrElse(schema.json))))
    true
  }

  override def capabilities(): util.Set[TableCapability] =
    if (writable)
      util.EnumSet.of(
        TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ,
        TableCapability.V1_BATCH_WRITE,
        TableCapability.STREAMING_WRITE,
        TableCapability.TRUNCATE)
    else util.EnumSet.of(TableCapability.BATCH_READ)

  /** The persisted cluster spec (CREATE ... PARTITIONED BY mapping)
    * surfaces as the DECLARED transforms — DESCRIBE and catalog tooling
    * round-trip the user's DDL (identity, bucket(N), truncate(N),
    * years/months/days/hours), even though writes range-cluster on the
    * source columns (the dominance argument at
    * [[SnapshotTable.ClusterXformKey]]). */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val BucketN = """bucket\((\d+)\)""".r
    val TruncN = """truncate\((\d+)\)""".r
    SnapshotTable
      .clusterSpecOf(schema)
      .map {
        case (c, "identity") => Expressions.identity(c)
        case (c, BucketN(n)) => Expressions.bucket(n.toInt, c)
        case (c, TruncN(n)) =>
          Expressions.apply("truncate", Expressions.literal(n.toInt), Expressions.column(c))
        case (c, "years") => Expressions.years(c)
        case (c, "months") => Expressions.months(c)
        case (c, "days") => Expressions.days(c)
        case (c, "hours") => Expressions.hours(c)
        case (c, other) => sys.error(s"unreadable cluster transform '$other' on '$c'")
      }
      .toArray
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, root, v, schema, options, streamable = writable)

  /** Writes bridge to the TRANSACTIONAL operators (V1Write): INSERT INTO
    * = one [[SnapshotTable.append]] commit, INSERT OVERWRITE (truncate)
    * = one [[SnapshotTable.overwrite]] — atomic, schema-evolving,
    * CHECK-enforced. Time-travel handles are read-only.
    *
    * STREAMING writes (`writeStream.toTable`) take the same builder's
    * `toStreaming` leg onto [[GraftStreamingWrite]] — executor-staged
    * files, one exactly-once epoch commit per micro-batch. Complete mode
    * is refused (its truncate request reaches `toStreaming` as the
    * overwrite flag); update mode is append-as-update (the
    * SupportsStreamingUpdateAsAppend contract — pair with `upsertKeys`). */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(writable, s"${name()} is a time-travel/pinned handle — writes go to the current table")
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate
      with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
      private var overwrite = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame, ov: Boolean): Unit = {
                if (overwrite || ov) SnapshotTable.overwrite(spark, root, data)
                else SnapshotTable.append(spark, root, data)
                ()
              }
            }
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            require(
              !overwrite,
              s"${name()}: Complete-mode streaming rewrites go through overwrite(); " +
                "the catalog streaming sink supports Append/Update")
            new GraftStreamingWrite(
              spark,
              root,
              info.queryId, // namespaces the staging dir: concurrent queries never collide
              info.schema,
              SnapshotSinkOps.parseOptions(k => Option(info.options.get(k))))
          }
        }
    }
  }
}

/** Pushdown state machine for one scan: Spark hands filters and the
  * required column set; `build()` picks native-batch vs V1 fallback off
  * the manifest shape. ALL filters are returned from [[pushFilters]]
  * (Spark re-evaluates them row-level above the scan), while the
  * stat-translatable subset is reported via [[pushedFilters]] and drives
  * file + row-group pruning underneath. */
private[sinks] final class GraftScanBuilder(
    spark: SparkSession,
    root: String,
    v: Int,
    tableSchema: StructType,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    streamable: Boolean = false)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var allFilters: Array[sources.Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    allFilters = filters
    filters // every filter re-evaluates above: pruning is never load-bearing
  }

  override def pushedFilters(): Array[sources.Filter] =
    allFilters.filter(f => StatsProver.conjuncts(f, tableSchema).nonEmpty)

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve the TABLE's field order and metadata; Spark's required set
    // is a subset by name
    required = StructType(tableSchema.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan = {
    val m = SnapshotTable.readManifest(spark, root, v)
    // renamed columns stay NATIVE (the scan maps logical→physical names
    // itself); only pending merge-on-read masks — whose anti-join/filter
    // semantics need the relation replay — take the V1 fallback
    if (m.masks.isEmpty)
      new GraftBatchScan(spark, root, m, tableSchema, required, allFilters.toSeq, options, streamable)
    else
      new GraftV1FallbackScan(
        spark, root, new SnapshotBatchRelation(spark, root, v, tableSchema), required, allFilters.toSeq, options,
        streamable)
  }
}

private[sinks] object GraftScanBuilder {

  /** The catalog-identifier streaming leg (`spark.readStream.table(
    * "graft.ns.t")`): delegate offsets and batch algebra to the proven
    * [[SnapshotSource]], read partitions natively
    * ([[GraftMicroBatchStream]]). Read options ride through: startVersion
    * and the maxFilesPerTrigger / maxBytesPerTrigger admission controls. */
  def microBatchStream(
      spark: SparkSession,
      root: String,
      options: CaseInsensitiveStringMap,
      required: StructType,
      streamable: Boolean)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(
      streamable,
      "streaming reads follow the CURRENT table — a time-travel/pinned handle cannot stream")
    require(
      !Option(options.get("readChangeFeed")).exists(_.equalsIgnoreCase("true")),
      "readChangeFeed streams through the path-based source (its schema adds the CDC tag " +
        "columns, which a catalog table identifier cannot declare): " +
        "spark.readStream.format(\"snapshot-table\").option(\"readChangeFeed\",\"true\").load(root)")
    val src = new SnapshotSource(
      spark,
      root,
      Option(options.get("startVersion")).map(_.toInt),
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      Option(options.get("maxBytesPerTrigger")).map(_.toLong))
    new GraftMicroBatchStream(spark, root, src, required)
  }

  /** Rewrite a filter's attribute names through `nameMap` (logical →
    * physical). `None` = a shape or name this translation doesn't carry —
    * the filter is simply not pushed (Spark re-applies it row-level, so
    * dropping is always safe). `Not` is dropped rather than partially
    * translated: a half-renamed negation would be wrong, not just
    * unpushed. */
  def renameFilter(f: sources.Filter, nameMap: Map[String, String]): Option[sources.Filter] = {
    def n(a: String): Option[String] = nameMap.get(a)
    f match {
      case sources.EqualTo(a, v) => n(a).map(sources.EqualTo(_, v))
      case sources.EqualNullSafe(a, v) => n(a).map(sources.EqualNullSafe(_, v))
      case sources.GreaterThan(a, v) => n(a).map(sources.GreaterThan(_, v))
      case sources.GreaterThanOrEqual(a, v) => n(a).map(sources.GreaterThanOrEqual(_, v))
      case sources.LessThan(a, v) => n(a).map(sources.LessThan(_, v))
      case sources.LessThanOrEqual(a, v) => n(a).map(sources.LessThanOrEqual(_, v))
      case sources.In(a, vs) => n(a).map(sources.In(_, vs))
      case sources.IsNull(a) => n(a).map(sources.IsNull(_))
      case sources.IsNotNull(a) => n(a).map(sources.IsNotNull(_))
      case sources.StringStartsWith(a, p) => n(a).map(sources.StringStartsWith(_, p))
      case sources.StringEndsWith(a, p) => n(a).map(sources.StringEndsWith(_, p))
      case sources.StringContains(a, p) => n(a).map(sources.StringContains(_, p))
      case sources.And(l, r) =>
        (renameFilter(l, nameMap), renameFilter(r, nameMap)) match {
          case (Some(a), Some(b)) => Some(sources.And(a, b))
          case (one, other) => one.orElse(other) // partial conjunction still prunes soundly
        }
      case sources.Or(l, r) =>
        for { a <- renameFilter(l, nameMap); b <- renameFilter(r, nameMap) } yield sources.Or(a, b)
      // Not is NOT pushed: the And branch's partial translation keeps a
      // SUPERSET (safe for pruning) — inverted under Not it would keep a
      // subset, i.e. wrongly prune
      case _ => None
    }
  }
}

/** Native DSv2 batch over the manifest: partitions ARE the pruned live
  * file list (one per file — at 100 TB the planner already receives
  * size-bounded files from the write path's compaction targets), read by
  * the standard parquet reader (row-group filter pushdown included).
  *
  * RUNTIME filtering ([[SupportsRuntimeFiltering]]): every column is
  * offered as a filter attribute, so a broadcast join's dim-side keys
  * (dynamic partition pruning — `IN (<dim keys>)` filters Spark derives
  * at EXECUTION time, invisible to static pushdown) re-prune the file
  * list through the same manifest min/max/bloom prover before any fact
  * bytes are read. A star join against a key-clustered 100-TB fact scans
  * only the files whose stats can hold the dim's keys; pruning stays a
  * pure optimization (the join re-evaluates row-level — a filter the
  * stats can't translate just keeps the file). */
private[sinks] final class GraftBatchScan(
    spark: SparkSession,
    root: String,
    m: SnapshotTable.Commit,
    tableSchema: StructType,
    required: StructType,
    filters: Seq[sources.Filter],
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    streamable: Boolean = false)
    extends Scan
    with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    GraftScanBuilder.microBatchStream(spark, root, options, required, streamable)

  @volatile private var runtimeFilters: Seq[sources.Filter] = Seq.empty

  // the manifest's stats AND the parquet files key by PHYSICAL names
  // (immutable across renames) — the scan translates at its edges and
  // stays NATIVE for renamed tables: rows are positional, so a physical
  // required schema reads back exactly as the logical one Spark binds to
  private val physSchema = SnapshotTable.physicalSchemaOf(tableSchema)
  private val nameMap: Map[String, String] =
    tableSchema.fields.zip(physSchema.fields).map { case (l, p) => l.name -> p.name }.toMap
  private def physFilters(fs: Seq[sources.Filter]): Seq[sources.Filter] =
    fs.flatMap(GraftScanBuilder.renameFilter(_, nameMap))

  // only columns the scan actually OUTPUTS: Spark resolves these against
  // the pruned read schema, and a DPP join key is necessarily in it
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fields.map(f =>
      org.apache.spark.sql.connector.expressions.Expressions.column(f.name))

  override def filter(rf: Array[sources.Filter]): Unit = { runtimeFilters = rf.toSeq }

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def description(): String =
    s"GraftBatchScan root=$root v=${m.version} pushed=${filters.mkString(", ")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val idx = new SnapshotFileIndex(spark, SnapshotTable.dataRoot(root), m, physSchema)
    val dataFilters =
      physFilters(filters ++ runtimeFilters).flatMap(StatsProver.conjuncts(_, physSchema))
    idx
      .listFiles(Nil, dataFilters)
      .flatMap(_.files)
      .map(fs => GraftInputPartition(fs.getPath.toString, fs.getLen))
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftParquetReader.factory(
      spark,
      physSchema,
      SnapshotTable.physicalSchemaOf(required),
      physFilters(filters))
}

private[sinks] final case class GraftInputPartition(path: String, length: Long)
    extends InputPartition

private[sinks] object GraftParquetReader {

  /** The ONE parquet read-function construction both native legs share
    * (batch scan and the catalog micro-batch stream): files carry
    * PHYSICAL column names and rows are positional, so reading the
    * physical twin of the pruned schema IS the logical read;
    * `OPTION_RETURNING_BATCH=false` pins the row-based reader. A fix to
    * reader construction lands here once, never per-leg. */
  def factory(
      spark: org.apache.spark.sql.SparkSession,
      physDataSchema: StructType,
      physRequiredSchema: StructType,
      pushedFilters: Seq[org.apache.spark.sql.sources.Filter]): GraftReaderFactory = {
    val readFunc = new ParquetFileFormat().buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = physDataSchema,
      partitionSchema = new StructType(),
      requiredSchema = physRequiredSchema,
      filters = pushedFilters, // row-group pushdown; Spark still re-applies row-level
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = spark.sessionState.newHadoopConf())
    GraftReaderFactory(readFunc)
  }
}

/** Executor-side reader: wraps the serialized parquet read function.
  * `OPTION_RETURNING_BATCH=false` pins the row-based reader; the
  * ColumnarBatch flattening below is belt-and-braces. */
private[sinks] final case class GraftReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    val file = PartitionedFile(
      InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPathString(p.path),
      0L,
      p.length,
      Array.empty,
      0L,
      p.length,
      Map.empty)
    new PartitionReader[InternalRow] {
      private val rows: Iterator[InternalRow] = readFunc(file).flatMap { r =>
        (r: Any) match { // the vectorized reader smuggles batches as rows
          case b: ColumnarBatch => b.rowIterator().asScala
          case row: InternalRow => Iterator.single(row)
        }
      }
      private var current: InternalRow = _
      override def next(): Boolean = {
        val has = rows.hasNext
        if (has) current = rows.next()
        has
      }
      override def get(): InternalRow = current
      override def close(): Unit = () // RecordReaderIterator closes on task end
    }
  }
}

/** Masked / column-mapped snapshots through the DSv2 API: a [[V1Scan]]
  * over the V1 [[SnapshotBatchRelation]], asked for the scan's required
  * columns and pushed filters — its replay of
  * [[SnapshotTable.relationVersion]] (mask anti-joins, logical
  * projections) bakes the translatable conjuncts in, per-mask-group
  * FileIndex pruning engages underneath, and Spark re-applies every filter
  * row-level above (the V1Scan contract). */
private[sinks] final class GraftV1FallbackScan(
    spark: SparkSession,
    root: String,
    relation: SnapshotBatchRelation,
    required: StructType,
    filters: Seq[sources.Filter],
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    streamable: Boolean = false)
    extends V1Scan {

  override def readSchema(): StructType = required

  // the append stream never applies masks (documented ignoreChanges
  // contract), so a mask-pending table streams through the SAME native
  // micro-batch leg the unmasked scan uses
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    GraftScanBuilder.microBatchStream(spark, root, options, required, streamable)

  override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      override def needConversion: Boolean = false
      override def buildScan(): org.apache.spark.rdd.RDD[Row] =
        relation.buildScan(required.fieldNames, filters.toArray)
    }.asInstanceOf[T]
}
