package graft.sinks

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** Catalyst-integrated reads for [[SnapshotTable]] — the TahoeFileIndex
  * move: instead of a dedicated `readWhere(bounds)` API, the snapshot
  * table presents itself to Spark as a `HadoopFsRelation` whose
  * [[FileIndex]] IS the manifest. During physical planning
  * (FileSourceStrategy) Spark hands `listFiles` the pushed-down data
  * filters of WHATEVER query is running — `df.filter(...)`, a SQL view, a
  * join's dynamic predicate — and the manifest stats (min/max, non-null
  * counts, per-file Blooms) decide which files exist for the scan at all.
  * Nothing else changes: Spark still applies every filter row-level, so a
  * translation this index declines to prune on costs only I/O, never
  * correctness; pruning itself is exact because it only drops files a
  * predicate PROVABLY annihilates. The proof is [[StatsProver]]'s, the
  * one prover [[SnapshotTable.prunePlan]] and DML planning also ask, so
  * a scan and a planner give the same verdict on the same predicate.
  *
  * Plan-time cost is one manifest read: `FileStatus` rows are built from
  * the manifest's recorded byte sizes — no listing, no per-file namenode
  * probes at 100-TB file counts (pre-bytes manifests fall back to one
  * stat call per file). Stat-less entries (pre-stats dirs, key and change
  * sidecars) are listed once, here. */
private[graft] final class SnapshotFileIndex(
    spark: SparkSession,
    root: String,
    m: SnapshotTable.Commit,
    schema: StructType)
    extends FileIndex {

  private val rootPath = new Path(root)
  private def fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())

  override def rootPaths: Seq[Path] = Seq(rootPath)

  override def partitionSchema: StructType = new StructType()

  override def refresh(): Unit = ()

  /** The stat-less entries' data files, listed once per index (data dirs
    * are immutable): hidden and `_`-prefixed names (`_SUCCESS`, checksum
    * sidecars) are not data, as for any parquet directory read. */
  private lazy val uncoveredFiles: Seq[FileStatus] = SnapshotTable.uncoveredOf(m).flatMap { d =>
    fs.listStatus(new Path(root, d)).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  override def sizeInBytes: Long =
    // a pre-bytes file (bytes = -1) makes the total unknown: summing only
    // the known files would under-report and could auto-broadcast a huge
    // table. Never fake a broadcastable size.
    if (m.files.exists(_.bytes < 0)) Long.MaxValue
    else m.files.map(_.bytes).sum + uncoveredFiles.map(_.getLen).sum

  override def inputFiles: Array[String] =
    (m.files.map(f => new Path(root, f.path).toString) ++ uncoveredFiles.map(_.getPath.toString)).toArray

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // rows=0 entries (empty schema-seed / empty-shuffle-partition files,
    // recorded by writeData so their dirs stay covered) match nothing —
    // drop them under ANY filter set, including none
    val proof = StatsProver.compile(schema, dataFilters)
    val keep = m.files.filter(f => f.rows > 0 && !proof.empty(f))
    val kept = keep.map { fst =>
      if (fst.bytes >= 0)
        new FileStatus(fst.bytes, false, 1, 134217728L, 0L, new Path(root, fst.path))
      else fs.getFileStatus(new Path(root, fst.path))
    }
    Seq(PartitionDirectory(InternalRow.empty, (kept ++ uncoveredFiles).toArray))
  }
}
