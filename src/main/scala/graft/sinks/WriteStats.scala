package graft.sinks

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, BasePredicate, BindReferences, BoundReference, Coalesce, CommonExpressionRef, Expression, Literal,
  Murmur3Hash, Not, Predicate, Unevaluable, UnsafeProjection, With, XxHash64}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{
  BasicWriteJobStatsTracker, FileFormatWriter, OutputWriter, OutputWriterFactory, WriteJobStatsTracker, WriteTaskStats,
  WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import org.json4s._

import SnapshotTable.FileStat

/** Per-file statistics folded while the rows are written — the manifest's
  * data-skipping index (row count; min, max and non-null count per
  * orderable column; a Bloom filter per equality column) plus each CHECK
  * constraint's violation count, with no second pass over the written
  * files. Spark's own `BasicWriteJobStatsTracker` and Delta's
  * `DeltaJobStatisticsTracker` have the same shape: a
  * [[WriteJobStatsTracker]] runs inside `FileFormatWriter`, each task
  * folds the rows of the files it writes, and its stats come back to the
  * driver in the task's commit message.
  *
  * Values compare the way Spark's `min`/`max` aggregates compare them:
  * strings by UTF-8 bytes; doubles with NaN above every number and
  * `-0.0 == 0.0` (the first one seen is kept). A column whose min or max
  * has no JSON form (a NaN or infinite double, a string past 64 chars)
  * records no pair for that file — absence is always safe. */
private[sinks] object WriteStats {

  // ── per-file Bloom filters: the EQUALITY-skipping index min/max can't be ──
  // Range stats prune ranges; they are blind to point lookups on scattered
  // or unclustered values, on strings past the 64-char stat cap, and on any
  // column the clustering key doesn't order. Each file therefore also
  // carries a small per-column Bloom filter (m=4096 bits, k=4 via double
  // hashing murmur3+xxhash64, both seed 42 as Spark's `hash`/`xxhash64`),
  // folded by the writer and consulted by the planner whenever a bound is
  // an EQUALITY (lower == upper): a probe position with an unset bit proves
  // the value absent from the file. False positives only cost a read;
  // false negatives are impossible, so skipping stays exact. ~2k distinct
  // values per file per column before saturation (fpp ≈ (1-e^{-kn/m})^k);
  // a saturated bloom prunes nothing and is merely dead weight — the
  // production note for 128MB files is a larger m in a sidecar, the JSON
  // manifest keeps the index self-contained here.
  val BloomBits = 4096
  val BloomK = 4

  /** Column types we bloom: equality-meaningful, hash-stable. */
  def bloomable(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType | DateType => true
    case _ => false
  }

  /** Orderable atomic types we record min/max for. */
  def statable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType | StringType | DateType |
        TimestampType | TimestampNTZType | BooleanType =>
      true
    case _: DecimalType => true
    case _ => false
  }

  /** Probe `i` of a value whose murmur3 and xxhash64 hashes are `h1raw`
    * and `h2raw` — the one position function of the write fold and the
    * planner's probes. h2 is forced odd so the double-hash stride never
    * collapses. */
  def bloomPosition(h1raw: Long, h2raw: Long, i: Int): Int = {
    val h1 = java.lang.Math.floorMod(h1raw, BloomBits.toLong)
    val h2 = java.lang.Math.floorMod(h2raw, BloomBits.toLong) * 2 + 1
    java.lang.Math.floorMod(h1 + i * h2, BloomBits.toLong).toInt
  }

  def bloomEncode(bits: scala.collection.BitSet): String = {
    val bytes = new Array[Byte](BloomBits / 8)
    bits.foreach(b => bytes(b >> 3) = (bytes(b >> 3) | (1 << (b & 7))).toByte)
    java.util.Base64.getEncoder.encodeToString(bytes)
  }

  /** Encode one min/max value (in the JVM form `Row` access returns) as
    * manifest JSON. None = no stat (null, non-finite double, overlong
    * string) — always safe to omit. */
  def statJson(dt: DataType, v: Any): Option[JValue] =
    if (v == null) None
    else
      dt match {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(JLong(v.asInstanceOf[Number].longValue()))
        case FloatType | DoubleType =>
          val d = v.asInstanceOf[Number].doubleValue()
          if (java.lang.Double.isFinite(d)) Some(JDouble(d)) else None
        case _: DecimalType => Some(JDecimal(BigDecimal(v.asInstanceOf[java.math.BigDecimal])))
        case StringType =>
          val s = v.asInstanceOf[String]
          if (s.length <= 64) Some(JString(s)) else None
        case DateType => Some(JString(v.toString)) // ISO yyyy-MM-dd: lexicographic = chronological
        case TimestampType =>
          val t = v.asInstanceOf[java.sql.Timestamp]
          // floorDiv, not truncating /: getTime rounds toward zero, but
          // getNanos is always in [0,1e9) — for pre-1970 timestamps the
          // truncating form maps -0.5s to +500000µs and the manifest
          // min/max stops being monotone, so pruning could skip live rows
          Some(JLong(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)) // exact epoch micros
        case TimestampNTZType =>
          val t = v.asInstanceOf[java.time.LocalDateTime]
          Some(JLong(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000))
        case BooleanType => Some(JLong(if (v.asInstanceOf[Boolean]) 1L else 0L))
        case _ => None
      }

  /** One written file: its stat (`path` is the file NAME) and the
    * violation count of each CHECK, in [[Spec]]'s check order. */
  final case class Folded(stat: FileStat, violations: Seq[Long])

  /** What a write folds per file, resolved and bound once per commit on
    * the driver: the stat and bloom columns of the written (physical)
    * schema, the two bloom hashes of each bloom column, and each CHECK —
    * authored in LOGICAL names, resolved against the written schema
    * renamed back to them, then bound to the row ordinals (a rename
    * keeps positions) as `NOT coalesce(check, false)`, so a null result
    * counts as a violation. An analyzed CHECK may still hold expressions
    * only the optimizer rewrites into evaluable ones (`BETWEEN`, `nvl`,
    * `nullif`, `ilike`, `to_date`: `RuntimeReplaceable`, and the `With`
    * a replacement shares a subexpression through); [[evaluable]] does
    * that rewrite first, and a CHECK that still cannot be evaluated row
    * by row fails here, before any byte is written. */
  final class Spec private (
      stats: Array[(String, DataType, Int)],
      bloomNames: Array[String],
      bloomOrds: Array[Int],
      hashes: Seq[Expression],
      checks: Seq[Expression])
      extends Serializable {

    /** The codegen'd half, built per task (generated classes do not
      * serialize). */
    def bind(): Binding = new Binding

    final class Binding {
      private val hash = if (hashes.isEmpty) null else UnsafeProjection.create(hashes)
      private val violated: Array[BasePredicate] = checks.map { e =>
        val p = Predicate.create(e)
        p.initialize(Option(TaskContext.get()).fold(0)(_.partitionId()))
        p
      }.toArray

      def newFile(): FileFold = new FileFold

      /** The fold of one file. */
      final class FileFold {
        private var rows = 0L
        private val cols = stats.map { case (_, dt, ord) => new ColFold(dt, ord) }
        private val bits = Array.fill(bloomOrds.length)(new Array[Byte](BloomBits / 8))
        private val bad = new Array[Long](violated.length)

        def isEmpty: Boolean = rows == 0

        def add(row: InternalRow): Unit = {
          rows += 1
          var i = 0
          while (i < cols.length) { cols(i).add(row); i += 1 }
          if (bloomOrds.nonEmpty) {
            val h = hash(row)
            var j = 0
            while (j < bloomOrds.length) {
              if (!row.isNullAt(bloomOrds(j))) {
                val h1 = h.getInt(2 * j).toLong
                val h2 = h.getLong(2 * j + 1)
                val b = bits(j)
                var k = 0
                while (k < BloomK) {
                  val p = bloomPosition(h1, h2, k)
                  b(p >> 3) = (b(p >> 3) | (1 << (p & 7))).toByte
                  k += 1
                }
              }
              j += 1
            }
          }
          i = 0
          while (i < violated.length) { if (violated(i).eval(row)) bad(i) += 1; i += 1 }
        }

        /** A zero-row file (partition 0 of an empty write) records no
          * column entries; the scan paths drop rows=0 files unread. */
        def result(name: String, bytes: Long): Folded =
          if (rows == 0) Folded(FileStat(name, 0L, Map.empty, Map.empty, bytes = bytes), bad.toSeq)
          else {
            // record only complete [min,max] pairs — a one-sided bound can't prune safely
            val pairs = stats.zip(cols).flatMap { case ((n, dt, _), c) =>
              for (lo <- statJson(dt, c.lo); hi <- statJson(dt, c.hi)) yield (n, lo, hi)
            }
            Folded(
              FileStat(
                name,
                rows,
                pairs.map(p => p._1 -> p._2).toMap,
                pairs.map(p => p._1 -> p._3).toMap,
                stats.zip(cols).map { case ((n, _, _), c) => n -> c.nn }.toMap,
                bloomNames.zip(bits).map { case (n, b) => n -> java.util.Base64.getEncoder.encodeToString(b) }.toMap,
                bytes),
              bad.toSeq)
          }
      }
    }
  }

  object Spec {
    def apply(
        spark: SparkSession,
        schema: StructType,
        constraints: Map[String, String],
        physicalOf: Map[String, String]): Spec = {
      val fields = schema.fields.zipWithIndex
      val blooms = fields.collect { case (f, i) if bloomable(f.dataType) => (f.name, f.dataType, i) }
      val logicalOf = physicalOf.map(_.swap)
      val checks =
        if (constraints.isEmpty) Seq.empty
        else {
          val logical = StructType(fields.map { case (f, _) =>
            f.copy(name = logicalOf.getOrElse(f.name, f.name), nullable = true)
          })
          val ordered = constraints.toSeq.sortBy(_._1)
          val sqls = ordered.map(c => org.apache.spark.sql.functions.expr(c._2))
          ReplaceExpressions(spark.createDataFrame(java.util.Collections.emptyList[Row](), logical)
            .select(sqls: _*).queryExecution.analyzed) match {
            case Project(cols, child) =>
              cols.map { case Alias(c, _) => c; case c => c }.zip(ordered).map {
                case (c, (name, sql)) =>
                  val bound = BindReferences.bindReference(
                    Not(Coalesce(Seq(evaluable(c), Literal(false)))), child.output): Expression
                  require(
                    !bound.exists(_.isInstanceOf[Unevaluable]),
                    s"CHECK constraint '$name' ($sql) cannot be evaluated row by row")
                  bound
              }
          }
        }
      new Spec(
        fields.collect { case (f, i) if statable(f.dataType) => (f.name, f.dataType, i) },
        blooms.map(_._1),
        blooms.map(_._3),
        blooms.toSeq.flatMap { case (_, dt, i) =>
          val ref = BoundReference(i, dt, nullable = true)
          Seq(Murmur3Hash(Seq(ref), 42), XxHash64(Seq(ref), 42L))
        },
        checks)
    }
  }

  /** `e` with every `With` inlined: each reference to a common
    * subexpression becomes that subexpression (what the optimizer's
    * `RewriteWithExpression` computes once per row, evaluated per use). */
  private def evaluable(e: Expression): Expression = e.transformUp { case With(body, defs) =>
    val byId = defs.map(d => d.id -> d.child).toMap
    body.transformUp { case r: CommonExpressionRef if byId.contains(r.id) => byId(r.id) }
  }

  /** The byte length of a file a task has just written; -1 (unknown)
    * when the commit protocol keeps it invisible until task commit. */
  def fileBytes(p: Path, conf: Configuration): Long =
    try p.getFileSystem(conf).getFileStatus(p).getLen
    catch { case _: java.io.FileNotFoundException => -1L }

  /** Min/max/non-null fold of one column, compared with Spark's own
    * ordering of its type (so the first of equal values is kept, as the
    * `min`/`max` aggregates keep it); `lo`/`hi` come out in the JVM form
    * `Row` access returns. */
  private final class ColFold(dt: DataType, ord: Int) {
    private val get = InternalRow.getAccessor(dt, nullable = false)
    private val order = PhysicalDataType.ordering(dt)
    var nn = 0L
    private var min, max: Any = _

    def add(row: InternalRow): Unit =
      if (!row.isNullAt(ord)) {
        val v = get(row, ord)
        nn += 1
        // the row's buffer is reused: keep a copy of a new extreme
        if (nn == 1 || order.lt(v, min)) min = copy(v)
        if (nn == 1 || order.gt(v, max)) max = copy(v)
      }

    private def copy(v: Any): Any = v match {
      case s: UTF8String => s.copy()
      case d: Decimal => d.clone()
      case other => other
    }

    private def external(v: Any): Any = dt match {
      case _ if v == null => null
      case DateType => DateTimeUtils.toJavaDate(v.asInstanceOf[Int])
      case TimestampType => DateTimeUtils.toJavaTimestamp(v.asInstanceOf[Long])
      case TimestampNTZType => DateTimeUtils.microsToLocalDateTime(v.asInstanceOf[Long])
      case StringType => v.toString
      case _: DecimalType => v.asInstanceOf[Decimal].toJavaBigDecimal
      case _ => v
    }
    def lo: Any = external(min)
    def hi: Any = external(max)
  }

  /** The subdir of a split write's dir ([[writeParquet]]) that holds its
    * change files. Its name starts with `_`, so no listing of the data
    * dir reads it. */
  val ChangeSide = "__graft_change"

  /** What [[writeParquet]] does with the rows of its frame. */
  sealed trait Changes
  object Changes {

    /** No tag column: every row is a data row. */
    case object Untagged extends Changes

    /** A trailing `_change_type` tags each change row: change rows are
      * counted by type and not written. */
    case object Counted extends Changes

    /** As [[Counted]], and the change rows are written under
      * [[ChangeSide]]. */
    case object Kept extends Changes
  }

  /** The per-task tracker. A single-directory write has one file open at
    * a time; a closed file records its byte length. In a `split` write
    * only a row whose trailing `_change_type` is null folds into the file
    * stats (so a deleted row's pre-image never meets a CHECK), a change
    * row counts under its type, and a data file that received no row was
    * never opened ([[SplitParquet]]) and records nothing. */
  private final class TaskTracker(spec: Spec, conf: SerializableConfiguration, split: Boolean)
      extends WriteTaskStatsTracker {
    private val binding = spec.bind()
    private val done = mutable.ArrayBuffer.empty[Folded]
    private val changes = mutable.HashMap.empty[String, Long]
    private var changeFiles, curChanges = 0
    private var cur: binding.FileFold = _

    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit = { cur = binding.newFile(); curChanges = 0 }
    override def newRow(filePath: String, row: InternalRow): Unit =
      if (!split || row.isNullAt(row.numFields - 1)) cur.add(row)
      else {
        val tpe = row.getUTF8String(row.numFields - 1).toString
        changes(tpe) = changes.getOrElse(tpe, 0L) + 1
        if (curChanges == 0) changeFiles += 1
        curChanges += 1
      }
    override def closeFile(filePath: String): Unit =
      if (!split || !cur.isEmpty) {
        val p = new Path(filePath)
        done += cur.result(p.getName, fileBytes(p, conf.value))
      }
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      TaskFiles(done.toSeq, changes.toMap, changeFiles)
  }

  private final case class TaskFiles(files: Seq[Folded], changes: Map[String, Long], changeFiles: Int)
      extends WriteTaskStats

  private final class JobTracker(spec: Spec, conf: SerializableConfiguration, split: Boolean)
      extends WriteJobStatsTracker {
    @transient var written: Written = Written(Seq.empty, Map.empty)
    @transient var changeFiles = 0
    override def newTaskInstance(): WriteTaskStatsTracker = new TaskTracker(spec, conf, split)
    override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit = {
      val tasks = stats.collect { case t: TaskFiles => t }
      written = Written(
        tasks.flatMap(_.files),
        tasks.flatMap(_.changes).groupMapReduce(_._1)(_._2)(_ + _))
      changeFiles = tasks.map(_.changeFiles).sum
    }
  }

  /** Spark's basic write tracker (the write node's SQL metrics) in a split
    * write, where a task's data file opens at its first data row
    * ([[SplitParquet]]): the file is submitted to the basic tracker at
    * that row, so a task whose rows were all change rows submits none,
    * instead of one file that never appears (which the basic tracker logs
    * as "Expected 1 files, but only saw 0"). Every row still counts. */
  private final class SplitBasicTracker(conf: SerializableConfiguration)
      extends BasicWriteJobStatsTracker(conf, BasicWriteJobStatsTracker.metrics) {
    override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
      private val task = SplitBasicTracker.super.newTaskInstance()
      private var opened = false
      override def newPartition(partitionValues: InternalRow): Unit = task.newPartition(partitionValues)
      override def newFile(filePath: String): Unit = opened = false
      override def newRow(filePath: String, row: InternalRow): Unit = {
        if (!opened && row.isNullAt(row.numFields - 1)) {
          opened = true
          task.newFile(filePath)
        }
        task.newRow(filePath, row)
      }
      override def closeFile(filePath: String): Unit = if (opened) task.closeFile(filePath)
      override def getFinalStats(taskCommitTime: Long): WriteTaskStats = task.getFinalStats(taskCommitTime)
    }
  }

  /** Parquet whose writer routes each row by its trailing `_change_type`:
    * a data row (null tag) goes, without the tag, to the file the task
    * opened, which therefore holds exactly the table's columns; a change
    * row, tag included, goes to the same-named file under [[ChangeSide]]
    * beside it when `keep`, and nowhere otherwise. Both live in the
    * task's attempt dir, so the job's commit moves them together, and
    * each opens at its first row. */
  private final class SplitParquet(keep: Boolean) extends ParquetFileFormat {
    override def prepareWrite(
        spark: SparkSession,
        job: Job,
        options: Map[String, String],
        dataSchema: StructType): OutputWriterFactory = {
      val inner = super.prepareWrite(spark, job, options, dataSchema)
      val data = StructType(dataSchema.fields.init)
      new OutputWriterFactory {
        override def getFileExtension(ctx: TaskAttemptContext): String = inner.getFileExtension(ctx)
        override def newInstance(file: String, schema: StructType, ctx: TaskAttemptContext): OutputWriter =
          new OutputWriter {
            private val view = ProjectingInternalRow(data, data.indices)
            private var dataOut, changeOut: OutputWriter = _
            override def write(row: InternalRow): Unit =
              if (row.isNullAt(row.numFields - 1)) {
                if (dataOut == null) {
                  val conf = new Configuration(ctx.getConfiguration)
                  ParquetWriteSupport.setSchema(data, conf)
                  dataOut = new ParquetOutputWriter(file, new TaskAttemptContextImpl(conf, ctx.getTaskAttemptID))
                }
                view.project(row)
                dataOut.write(view)
              } else if (keep) {
                if (changeOut == null) {
                  val p = new Path(file)
                  val side = new Path(new Path(p.getParent, ChangeSide), p.getName)
                  changeOut = inner.newInstance(side.toString, schema, ctx)
                }
                changeOut.write(row)
              }
            override def close(): Unit = Seq(dataOut, changeOut).filter(_ != null).foreach(_.close())
            override def path(): String = file
          }
      }
    }
  }

  /** What one write produced: each data file's fold, and the number of
    * change rows of each `_change_type` a tagged write counted. */
  final case class Written(files: Seq[Folded], changes: Map[String, Long])

  /** Write `df` as parquet to the new dir `abs` and return each file's
    * fold. This is `df.write.parquet(abs)` — Spark's `FileFormatWriter`
    * with the session's commit protocol and the default
    * `BasicWriteJobStatsTracker`, under the frame's own execution id — so
    * files, part names, the one file an empty write leaves, `_SUCCESS`
    * and bytes are exactly what that call writes; the fold rides along
    * as one more stats tracker. A file whose size its task could not see
    * takes it from one listing of the committed dir.
    *
    * A tagged write ([[Changes.Counted]], [[Changes.Kept]]) takes a frame
    * whose last column is `_change_type`: null on a data row, the change
    * type on a change row. The data files land in `abs` without the tag,
    * as the plain write puts them (minus the empty file of a task that
    * kept no row), stats and CHECKs folded over them alone. A kept write's
    * change files, tag included, leave in the same job ([[SplitParquet]];
    * Delta splits them the same way with its `__is_cdc` partition column,
    * whose sort of the rows by the tag this routing writer does not need)
    * and land under `abs/`[[ChangeSide]] for the caller to publish. */
  def writeParquet(df: DataFrame, abs: String, spec: Spec, changes: Changes): Written = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.queryExecution
    val hadoopConf: Configuration = spark.sessionState.newHadoopConf()
    val conf = new SerializableConfiguration(hadoopConf)
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass, java.util.UUID.randomUUID().toString, abs)
    val split = changes != Changes.Untagged
    val tracker = new JobTracker(spec, conf, split)
    val basic =
      if (split) new SplitBasicTracker(conf) else new BasicWriteJobStatsTracker(conf, BasicWriteJobStatsTracker.metrics)
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      val plan = qe.executedPlan
      FileFormatWriter.write(
        spark, plan, if (split) new SplitParquet(changes == Changes.Kept) else new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(abs, Map.empty, plan.output), hadoopConf,
        partitionColumns = Seq.empty, bucketSpec = None,
        statsTrackers = Seq(basic, tracker),
        options = Map.empty)
    }
    val dir = new Path(abs)
    val fs = dir.getFileSystem(hadoopConf)
    if (changes == Changes.Kept) {
      // the change files ride the commit of the task's attempt dir; a
      // commit protocol that moves only the files it handed out would
      // drop them, so the count must match
      val side = new Path(dir, ChangeSide)
      fs.mkdirs(side)
      val landed = fs.listStatus(side).map(_.getPath.getName).count(n => !n.startsWith(".") && !n.startsWith("_"))
      if (landed != tracker.changeFiles) {
        fs.delete(dir, true) // abort pre-publish: no orphan lingers
        throw new IllegalStateException(
          s"${tracker.changeFiles} change files written, $landed committed under $side: the commit " +
            s"protocol ${spark.sessionState.conf.fileCommitProtocolClass} does not commit a task's attempt dir whole")
      }
    }
    val w = tracker.written
    if (w.files.forall(_.stat.bytes >= 0)) w
    else {
      val sizes = fs.listStatus(dir).map(s => s.getPath.getName -> s.getLen).toMap
      w.copy(files = w.files.map(f => f.copy(stat = f.stat.copy(bytes = sizes.getOrElse(f.stat.path, -1L)))))
    }
  }
}
