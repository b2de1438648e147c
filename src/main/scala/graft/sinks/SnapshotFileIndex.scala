package graft.sinks

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._
import org.json4s.JValue

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
  * predicate PROVABLY annihilates (the same conservative stats semantics
  * as [[SnapshotTable.prunePlan]], widened to >, <, OR, IN, IS NULL,
  * STARTSWITH and null-safe equality).
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

  private val coveredFiles = m.files.map(_.path).toSet
  private val coveredDirs = m.files.map(f => f.path.take(f.path.lastIndexOf('/'))).toSet
  private val uncoveredEntries =
    m.dirs.filterNot(e => coveredDirs.contains(e) || coveredFiles.contains(e))

  override def rootPaths: Seq[Path] = Seq(rootPath)

  override def partitionSchema: StructType = new StructType()

  override def refresh(): Unit = ()

  /** The stat-less entries' data files, listed once per index (data dirs
    * are immutable): hidden and `_`-prefixed names (`_SUCCESS`, checksum
    * sidecars) are not data, as for any parquet directory read. */
  private lazy val uncoveredFiles: Seq[FileStatus] = uncoveredEntries.flatMap { d =>
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
    val keep = m.files
      .filter(_.rows > 0)
      .filterNot(fst => dataFilters.exists(provablyEmpty(fst, _)))
    val kept = keep.map { fst =>
      if (fst.bytes >= 0)
        new FileStatus(fst.bytes, false, 1, 134217728L, 0L, new Path(root, fst.path))
      else fs.getFileStatus(new Path(root, fst.path))
    }
    Seq(PartitionDirectory(InternalRow.empty, (kept ++ uncoveredFiles).toArray))
  }

  // ---- conservative per-file annihilation proofs ----

  private def dt(name: String): Option[DataType] =
    schema.fields.find(_.name == name).map(_.dataType)

  /** Internal literal value → the manifest comparison axis
    * ([[SnapshotTable.normJ]]'s counterpart for catalyst internal types). */
  private def axis(d: DataType, v: Any): Option[Either[BigDecimal, String]] = (d, v) match {
    case (_, null) => None
    case (StringType, s) => Some(scala.Right(s.toString)) // UTF8String
    case (DateType, days: Integer) =>
      Some(scala.Right(java.time.LocalDate.ofEpochDay(days.longValue()).toString))
    case (TimestampType | TimestampNTZType, micros: java.lang.Long) =>
      Some(scala.Left(BigDecimal(micros.longValue())))
    case (BooleanType, b: java.lang.Boolean) => Some(scala.Left(BigDecimal(if (b) 1 else 0)))
    case (_: DecimalType, dec: org.apache.spark.sql.types.Decimal) =>
      Some(scala.Left(dec.toBigDecimal))
    case (FloatType | DoubleType, n: Number) =>
      // NaN/Infinity comparison literals must keep the file, not crash
      // planning (BigDecimal can't represent them)
      val d = n.doubleValue()
      if (java.lang.Double.isFinite(d)) Some(scala.Left(BigDecimal(n.toString))) else None
    case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
      Some(scala.Left(BigDecimal(n.toString)))
    case _ => None
  }

  /** Internal literal value → the external form [[SnapshotTable.probePositions]]
    * hashes (matching `functions.hash` on the column type). */
  private def external(d: DataType, v: Any): Option[Any] = (d, v) match {
    case (_, null) => None
    case (StringType, s) => Some(s.toString)
    case (DateType, days: Integer) =>
      Some(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.longValue()).toString))
    case (ByteType | ShortType | IntegerType | LongType, n: Number) => Some(n)
    case _ => None
  }

  private def statAxis(fst: SnapshotTable.FileStat, col: String, side: Map[String, JValue])(
      implicit d: DataType): Option[Either[BigDecimal, String]] =
    side.get(col).flatMap(SnapshotTable.normJValue(d, _))

  private def lt(a: Either[BigDecimal, String], b: Either[BigDecimal, String]): Boolean =
    (a, b) match {
      case (scala.Left(x), scala.Left(y)) => x < y
      case (scala.Right(x), scala.Right(y)) => x < y
      case _ => false
    }

  /** True iff `fst`'s stats PROVE no row satisfies `e`. Unknown shapes,
    * missing stats, uncastable literals all return false (keep the file). */
  private def provablyEmpty(fst: SnapshotTable.FileStat, e: Expression): Boolean = e match {
    case And(l, r) => provablyEmpty(fst, l) || provablyEmpty(fst, r)
    case Or(l, r) => provablyEmpty(fst, l) && provablyEmpty(fst, r)
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) => deadCmp(fst, a.name, v, ">=")
    case GreaterThan(a: AttributeReference, Literal(v, _)) => deadCmp(fst, a.name, v, ">")
    case LessThanOrEqual(a: AttributeReference, Literal(v, _)) => deadCmp(fst, a.name, v, "<=")
    case LessThan(a: AttributeReference, Literal(v, _)) => deadCmp(fst, a.name, v, "<")
    case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) => deadCmp(fst, a.name, v, "<=")
    case GreaterThan(Literal(v, _), a: AttributeReference) => deadCmp(fst, a.name, v, "<")
    case LessThanOrEqual(Literal(v, _), a: AttributeReference) => deadCmp(fst, a.name, v, ">=")
    case LessThan(Literal(v, _), a: AttributeReference) => deadCmp(fst, a.name, v, ">")
    case EqualTo(a: AttributeReference, Literal(v, _)) => deadEq(fst, a.name, v)
    case EqualTo(Literal(v, _), a: AttributeReference) => deadEq(fst, a.name, v)
    case EqualNullSafe(a: AttributeReference, Literal(v, _)) =>
      if (v == null) noNulls(fst, a.name) else deadEq(fst, a.name, v)
    case EqualNullSafe(Literal(v, _), a: AttributeReference) =>
      if (v == null) noNulls(fst, a.name) else deadEq(fst, a.name, v)
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.nonEmpty && vs.forall { case Literal(v, _) => v == null || deadEq(fst, a.name, v) }
    case InSet(a: AttributeReference, vs) =>
      vs.nonEmpty && vs.forall(v => v == null || deadEq(fst, a.name, v))
    case IsNull(a: AttributeReference) => noNulls(fst, a.name)
    case IsNotNull(a: AttributeReference) =>
      fst.nonNull.get(a.name).contains(0L) && fst.rows > 0
    case StartsWith(a: AttributeReference, Literal(p, StringType)) if p != null =>
      deadPrefix(fst, a.name, p.toString)
    case _ => false
  }

  private def noNulls(fst: SnapshotTable.FileStat, col: String): Boolean =
    fst.nonNull.get(col).contains(fst.rows)

  private def deadCmp(fst: SnapshotTable.FileStat, col: String, raw: Any, op: String): Boolean =
    dt(col).exists { implicit d =>
      axis(d, raw).exists { v =>
        val mi = statAxis(fst, col, fst.min)
        val ma = statAxis(fst, col, fst.max)
        op match {
          case ">=" => ma.exists(mx => lt(mx, v)) // max < v
          case ">" => ma.exists(mx => !lt(v, mx)) // max <= v
          case "<=" => mi.exists(mn => lt(v, mn)) // min > v
          case "<" => mi.exists(mn => !lt(mn, v)) // min >= v
        }
      }
    }

  private def deadEq(fst: SnapshotTable.FileStat, col: String, raw: Any): Boolean =
    deadCmp(fst, col, raw, ">=") || deadCmp(fst, col, raw, "<=") || {
      dt(col).exists { d =>
        fst.bloom.get(col).exists { b64 =>
          external(d, raw).exists(ext =>
            SnapshotTable
              .probeBloom(d, ext)
              .exists(_.exists(p => !SnapshotTable.bloomBit(b64, p))))
        }
      }
    }

  /** All strings with prefix p live in [p, p·∞): dead iff max < p, or the
    * |p|-char truncation of min already sorts above p. */
  private def deadPrefix(fst: SnapshotTable.FileStat, col: String, p: String): Boolean =
    dt(col).exists { implicit d =>
      d == StringType && {
        val mi = statAxis(fst, col, fst.min)
        val ma = statAxis(fst, col, fst.max)
        ma.exists(mx => lt(mx, scala.Right(p))) ||
        mi.exists {
          case scala.Right(mn) => mn.take(p.length) > p
          case _ => false
        }
      }
    }
}
