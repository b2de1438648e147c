package graft.sinks

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** The snapshot table as a DSv2 STREAMING SINK behind a CATALOG
  * identifier — `df.writeStream.toTable("graft.ns.t")` (SURVEY §2.J
  * `cap_stream_sink_catalog`), the write half of the catalog streaming
  * surface (`spark.readStream.table` landed as `cap_stream_catalog`).
  *
  * Execution shape — the standard two-phase lakehouse-sink design
  * (stage files on executors, publish one metadata transaction on the
  * driver), so NO row ever moves through the driver:
  *
  *   1. Each task writes its partition of the epoch to a private staged
  *      parquet file under `<root>/_streamStaging/<queryId>/epoch=<id>/`
  *      via the codegen'd parquet [[OutputWriter]] (the same writer batch
  *      plans use), folds the file's stats as it writes the rows (the
  *      same [[WriteStats]] fold as every batch commit) and reports the
  *      file path and its stats in its commit message. The queryId
  *      namespace keeps CONCURRENT streaming queries into the same table
  *      from touching each other's staged epochs
  *      (their epoch counters both start at 0), and the same id rides the
  *      commit as the txn appId — the STRICT (appId, batchId) exactly-once
  *      identity every write surface shares
  *      ([[SnapshotTable.appendBatchExactlyOnce]]). Speculative/failed
  *      attempts abort
  *      their own file; a file only exists for the commit once its task's
  *      message arrives.
  *   2. `commit(epochId, messages)` adopts exactly the reported files
  *      with their stats (or re-frames them as a DataFrame when landing
  *      must transform rows) through the SAME exactly-once epoch
  *      operators the path-based V1 sink uses
  *      ([[SnapshotSinkOps.landBatch]] —
  *      [[SnapshotTable.appendBatchExactlyOnce]], or the keyed
  *      COW/MOR upsert with `.option("upsertKeys", …)` /
  *      `.option("morWrites", "true")`): the batch id rides the manifest,
  *      so a REPLAYED epoch (restart, retry, speculative driver) is a
  *      no-op however often it reruns. The staged dir is deleted after
  *      the publish (and on `abort`); a crash between stage and publish
  *      leaves only unreferenced staging debris — readers never see a
  *      staged byte because only the manifest defines the table, and an
  *      age-gated [[SnapshotTable.vacuum]] reclaims abandoned epochs
  *      (a restarted query re-stages its replayed epoch from scratch).
  *
  * A plain append adopts the staged files by rename, so the epoch's bytes
  * are written once; a keyed, clustered or renamed-column landing re-frames
  * them, paying one extra write of the micro-batch (bounded by admission
  * control, not table size). Either way the transactional path proves
  * everything it proves for batch writes: stats + blooms, range
  * clustering, CHECK constraints, schema evolution, and exactly-once
  * replay. Complete
  * mode is refused, as on the path sink — a snapshot table's full-rewrite
  * analogue is `overwrite`, not a streaming epoch. Schema evolution: an
  * epoch that adds columns EVOLVES the table exactly like batch append
  * (appendBatchExactlyOnce's mergeSchemas; pre-evolution rows read the
  * new column as null) — the same contract on this catalog sink and the
  * V1 path sink, pinned by SnapshotSourceSpec's schema-evolution case.
  * Update mode rides the
  * [[org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend]]
  * contract (append semantics; pair with `upsertKeys` for true upserts,
  * exactly like the V1 sink's documented behavior). */
private[sinks] final class GraftStreamingWrite(
    spark: SparkSession,
    root: String,
    queryId: String,
    schema: StructType,
    opts: SnapshotSinkOptions)
    extends StreamingWrite {

  // staging lives under the PHYSICAL table root (dataRoot strips a
  // `#branch` ref) — a branch-handle stream must stage where vacuum's
  // `_streamStaging` sweep looks, or its crash debris is never reclaimed
  private def stagingRoot =
    new Path(new Path(SnapshotTable.dataRoot(root), "_streamStaging"), queryId)

  // one token per query RUN: a query restarted after a crash between
  // stage and publish re-stages epoch=N into the surviving dir, and a
  // fresh SparkContext restarts task ids from 0 — without the token the
  // replay's `part-<pid>-<tid>` collides with the crashed run's file and
  // the CREATE-mode parquet open fails the epoch until vacuum clears it
  private val runToken = java.util.UUID.randomUUID().toString.take(8)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    // prepareWrite installs the parquet write support + schema/compression
    // into the job conf; that conf (serialized once) is everything the
    // executor-side writers need
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val format = new ParquetFileFormat()
    val owf = format.prepareWrite(spark, job, Map.empty, schema)
    new GraftStreamingWriterFactory(
      owf,
      new SerializableHadoopConf(job.getConfiguration),
      schema,
      WriteStats.Spec(spark, schema, Map.empty, Map.empty),
      stagingRoot.toString,
      runToken)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.collect { case GraftStagedFile(f) if f.rows > 0 => f }
    val df =
      if (staged.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(staged.toIndexedSeq.map(_.path): _*)
    // the exactly-once contract does the rest: a replayed epoch finds its
    // (queryId, batchId) pair in the manifest and lands nothing — the
    // recorded appId keeps a SECOND query's identical epoch number from
    // deduping against ours (Delta's txn appId semantics). The staged
    // files and their stats ride along so the plain-append route can ADOPT
    // the epoch's files by rename instead of writing every byte a second
    // time.
    SnapshotSinkOps.landBatch(
      spark, root, df, epochId, opts, appId = Some(queryId), staged = Some(staged.toIndexedSeq))
    dropEpochDir(epochId)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    dropEpochDir(epochId)

  /** Staging cleanup is BEST-EFFORT by design: the epoch's outcome is
    * already decided by the manifest, and staged files are invisible to
    * readers — debris costs bytes, never correctness. */
  private def dropEpochDir(epochId: Long): Unit =
    try {
      val dir = new Path(stagingRoot, s"epoch=$epochId")
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(dir)) { fs.delete(dir, true); () }
      // drop the per-query namespace dir too once drained (non-recursive:
      // a concurrently staging epoch of THIS query keeps it alive)
      if (fs.exists(stagingRoot) && fs.listStatus(stagingRoot).isEmpty) {
        fs.delete(stagingRoot, false)
        ()
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  override def toString: String = s"GraftStreamingWrite[$root]"
}

/** Executor side: one staged parquet file per (partition, attempt), named
  * by task identity PLUS the per-run token so neither speculative attempts
  * nor a post-crash replay run collide; the commit message reports the
  * finished file and its folded stats (commit() lands only reported
  * files, so crashed-run debris in the same epoch dir is never read, and
  * the post-publish dropEpochDir removes it with the dir). Zero-row
  * writers stage nothing. */
private[sinks] final class GraftStreamingWriterFactory(
    owf: OutputWriterFactory,
    conf: SerializableHadoopConf,
    schema: StructType,
    stats: WriteStats.Spec,
    stagingRoot: String,
    runToken: String)
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var writer: OutputWriter = _
      private var path: String = _
      private var fold: WriteStats.Spec#Binding#FileFold = _

      private def open(): Unit = {
        val ctx = new TaskAttemptContextImpl(
          conf.value,
          new TaskAttemptID(new TaskID(new JobID(s"graft-epoch-$epochId", 0), TaskType.MAP, partitionId), 0))
        path = new Path(
          new Path(stagingRoot, s"epoch=$epochId"),
          s"part-$partitionId-$taskId-$runToken${owf.getFileExtension(ctx)}").toString
        writer = owf.newInstance(path, schema, ctx)
        fold = stats.bind().newFile()
      }

      override def write(row: InternalRow): Unit = {
        if (writer == null) open()
        writer.write(row)
        fold.add(row)
      }

      override def commit(): WriterCommitMessage =
        if (writer == null) GraftStagedFile(SnapshotTable.FileStat("", 0L, Map.empty, Map.empty))
        else {
          writer.close()
          val p = new Path(path)
          val staged = fold.result(p.getName, WriteStats.fileBytes(p, conf.value)).stat
          GraftStagedFile(staged.copy(path = path))
        }

      override def abort(): Unit =
        if (writer != null) {
          // close() on a writer broken by the original failure (disk
          // full, torn stream) may itself throw — it must not mask the
          // task's real failure or skip the staged-file delete below
          try writer.close()
          catch { case scala.util.control.NonFatal(_) => () }
          try {
            val p = new Path(path)
            p.getFileSystem(conf.value).delete(p, false)
            ()
          } catch { case scala.util.control.NonFatal(_) => () }
        }

      override def close(): Unit = ()
    }
}

/** One staged file's stats; `file.path` is the staged file's absolute
  * path (empty when the task staged nothing). */
private[sinks] final case class GraftStagedFile(file: SnapshotTable.FileStat)
    extends WriterCommitMessage

/** Hadoop `Configuration` is not `java.io.Serializable`; this is the
  * standard Writable-backed wrapper every Spark connector carries to ship
  * a conf to executors. */
private[sinks] final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
