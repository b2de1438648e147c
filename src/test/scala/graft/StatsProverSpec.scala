package graft

import java.nio.file.Files

import graft.sinks.SnapshotTable
import graft.sinks.SnapshotTable.Bound
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** The file-skipping surfaces agree: for one predicate, the files
  * `prunePlan` keeps, the files the manifest-backed scan keeps for
  * `relation(...).filter(<the predicate>)`, and the files the checkpointed
  * planner keeps are one set — for every statable column type, every
  * value form a [[Bound]] admits, open sides, Bloom-backed equalities
  * (present and absent values) and an unknown column. */
class StatsProverSpec extends SparkSuite {

  /** ids 0, 2, …, 78 in four files of ten consecutive ids, every statable
    * type derived from the id: an odd id falls inside a file's range but
    * is absent, so only the Bloom (integral, string, date) can drop it. */
  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-prover").toString
    SnapshotTable.create(
      spark,
      r,
      spark
        .range(0, 80, 2, 4)
        .selectExpr(
          "CAST(id AS BYTE) AS b",
          "CAST(id AS SHORT) AS sh",
          "CAST(id AS INT) AS i",
          "id AS l",
          "CAST(id AS FLOAT) AS f",
          "CAST(id AS DOUBLE) AS d",
          "CAST(id / 4 AS DECIMAL(10, 2)) AS dec",
          "concat('s', lpad(CAST(id AS STRING), 3, '0')) AS s",
          "date_add(DATE'2024-01-01', CAST(id AS INT)) AS dt",
          "timestamp_seconds(id * 3600) AS ts",
          "CAST(timestamp_seconds(id * 3600) AS TIMESTAMP_NTZ) AS ntz",
          "id >= 40 AS bo"))
    SnapshotTable.checkpoint(spark, r)
    r
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private def date(s: String) = java.sql.Date.valueOf(s)

  private val cases: Seq[Bound] = {
    val integral = Seq("b", "sh", "i", "l").flatMap { c =>
      Seq(
        Bound(c, Some(22), Some(41)), // Int range
        Bound(c, Some(22L), None), // Long, open upper side
        Bound(c, None, Some(19.5)), // Double, open lower side
        Bound(c, Some(22L), Some(22L)), // present value: Bloom keeps its file
        Bound(c, Some(23), Some(23))) // absent value inside a file's range: the Bloom drops it
    }
    val fractional = Seq("f", "d", "dec").flatMap { c =>
      Seq(
        Bound(c, Some(22), Some(41L)),
        Bound(c, Some(5.5), None),
        Bound(c, None, Some(new java.math.BigDecimal("9.75"))),
        Bound(c, Some(10), Some(10)))
    }
    integral ++ fractional ++ Seq(
      Bound("s", Some("s022"), Some("s041")),
      Bound("s", None, Some("s019")),
      Bound("s", Some("s022"), Some("s022")),
      Bound("s", Some("s023"), Some("s023")),
      Bound("dt", Some("2024-01-23"), Some("2024-02-11")), // String on a date
      Bound("dt", Some(date("2024-01-23")), None), // java.sql.Date
      Bound("dt", Some(date("2024-01-23")), Some(date("2024-01-23"))),
      Bound("dt", Some("2024-01-24"), Some("2024-01-24")), // absent date
      Bound("ts", Some(ts("1970-01-01 22:00:00")), Some(ts("1970-01-02 17:00:00"))),
      Bound("ts", Some(ts("1970-01-01 22:00:00")), Some(ts("1970-01-01 22:00:00"))),
      Bound("ntz", None, Some(ts("1970-01-01 19:00:00"))),
      Bound("ntz", Some(ts("1970-01-02 17:00:00")), Some(ts("1970-01-04 00:00:00"))),
      // the optimizer hands a scan `bo` and `NOT bo` for these, which no
      // stat proves: every surface keeps every file
      Bound("bo", Some(true), Some(true)),
      Bound("bo", Some(false), Some(false)),
      Bound("bo", None, Some(false)),
      Bound("bo", Some(true), None),
      Bound("bo", Some(false), Some(true)))
  }

  /** The predicate a bound states, typed at its column. */
  private def predicate(b: Bound, dt: DataType): Column = {
    def v(x: Any) = lit(x).cast(dt)
    (b.lower, b.upper) match {
      case (Some(lo), Some(hi)) if lo == hi => col(b.column) === v(lo)
      case (lo, hi) =>
        (lo.map(col(b.column) >= v(_)).toSeq ++ hi.map(col(b.column) <= v(_))).reduce(_ && _)
    }
  }

  /** The files the manifest-backed scan keeps, root-relative. */
  private def scanKeeps(filter: Option[Column]): Set[String] = {
    val df = SnapshotTable.relation(spark, root)
    val plan = filter.fold(df)(df.filter).queryExecution.executedPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"one file scan expected in:\n$plan")
    val s = scans.head
    val base = new Path(root).toUri.getPath + "/"
    s.relation.location
      .listFiles(s.partitionFilters, s.dataFilters)
      .flatMap(_.files)
      .map(_.getPath.toUri.getPath.stripPrefix(base))
      .toSet
  }

  test("prunePlan, the relation scan and the checkpointed planner keep the same files") {
    val v = SnapshotTable.latestVersion(spark, root).get
    val schema = SnapshotTable.read(spark, root).schema
    val all = SnapshotTable.prunePlan(spark, root, v, Nil).keep.toSet
    assert(all.size == 4)
    val disagree = Seq.newBuilder[String]
    def agree(bounds: Seq[Bound], filter: Option[Column]): Set[String] = {
      val planned = SnapshotTable.prunePlan(spark, root, v, bounds).keep.toSet
      val checkpointed = SnapshotTable.prunePlanCheckpointed(spark, root, v, bounds).keep.toSet
      val scanned = scanKeeps(filter)
      if (planned != scanned || planned != checkpointed)
        disagree += s"$bounds: prunePlan ${planned.size}, scan ${scanned.size}, checkpointed ${checkpointed.size}"
      planned
    }
    val kept = cases.map(b => b -> agree(Seq(b), Some(predicate(b, schema(b.column).dataType))))
    // a column the schema lacks prunes nothing (no scan filter can name it)
    assert(agree(Seq(Bound("nope", Some(1L), None)), None) == all)
    assert(disagree.result().isEmpty, disagree.result().mkString("\n"))
    // the cases really skip, and the Bloom drops an absent in-range value
    assert(kept.count(_._2.size < 4) >= cases.size / 2, kept.mkString("\n"))
    Seq("b", "sh", "i", "l").foreach(c => assert(kept.toMap.apply(Bound(c, Some(23), Some(23))).isEmpty))
    assert(kept.toMap.apply(Bound("s", Some("s023"), Some("s023"))).isEmpty)
    assert(kept.toMap.apply(Bound("dt", Some("2024-01-24"), Some("2024-01-24"))).isEmpty)
    assert(kept.toMap.apply(Bound("l", Some(22L), Some(22L))).size == 1)
    assert(kept.toMap.apply(Bound("bo", Some(true), Some(true))) == all)
    assert(kept.toMap.apply(Bound("bo", Some(true), None)).size == 2)
  }
}
