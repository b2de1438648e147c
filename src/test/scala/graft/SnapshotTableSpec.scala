package graft

import java.nio.file.Files

import graft.sinks.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The transactional-table contract: atomic visibility, time travel,
  * optimistic concurrency, safe compaction, vacuum reclamation. */
class SnapshotTableSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-snap").toString

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.as[(Long, String)].collect().toSet

  private def batch(xs: (Long, String)*): DataFrame = xs.toDF("id", "v")

  test("create + append + overwrite: each commit is a readable snapshot") {
    val root = freshRoot()
    val v1 = SnapshotTable.create(spark, root, batch(1L -> "a", 2L -> "b"))
    val v2 = SnapshotTable.append(spark, root, batch(3L -> "c"))
    val v3 = SnapshotTable.overwrite(spark, root, batch(9L -> "z"))
    assert((v1, v2, v3) == (1, 2, 3))
    assert(rows(SnapshotTable.readVersion(spark, root, 1)) == Set(1L -> "a", 2L -> "b"))
    assert(rows(SnapshotTable.readVersion(spark, root, 2)) == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(rows(SnapshotTable.read(spark, root)) == Set(9L -> "z"))
    assert(SnapshotTable.history(spark, root).map(c => (c.version, c.action, c.addedRows)) ==
      Seq((1, "create", 2L), (2, "append", 1L), (3, "overwrite", 1L)))
  }

  test("concurrent commit: exactly one of two racing writers wins") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, batch(1L -> "a"))
    // simulate the loser: another writer published version 2 between our
    // read of latest and our publish — the manifest already exists
    SnapshotTable.append(spark, root, batch(2L -> "b"))
    val ex = intercept[SnapshotTable.ConcurrentCommitException] {
      // race: a writer that read latest=1 tries to publish version 2,
      // which the append above already claimed
      val m = SnapshotTable.history(spark, root).head
      SnapshotTable.publish(spark, root, SnapshotTable.Commit(2, "append", m.dirs, 0L))
    }
    assert(ex.getMessage.contains("version 2"))
    // table state is the winner's, untouched
    assert(rows(SnapshotTable.read(spark, root)) == Set(1L -> "a", 2L -> "b"))
  }

  test("a failed (unpublished) write is invisible and vacuum reclaims it") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, batch(1L -> "a"))
    // simulate a writer that crashed after writing data, before publishing
    batch(99L -> "orphan").write.parquet(s"$root/data/dead-beef")
    assert(rows(SnapshotTable.read(spark, root)) == Set(1L -> "a"), "orphan must be invisible")
    val deleted = SnapshotTable.vacuum(spark, root, keepLast = 1)
    assert(deleted.contains("data/dead-beef"))
    assert(rows(SnapshotTable.read(spark, root)) == Set(1L -> "a"))
  }

  test("compact: fewer files, same rows, old versions still readable until vacuumed") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, batch((1L to 10L).map(i => i -> s"v$i"): _*).repartition(8))
    SnapshotTable.append(spark, root, batch((11L to 20L).map(i => i -> s"v$i"): _*).repartition(8))
    val expect = (1L to 20L).map(i => i -> s"v$i").toSet
    val v3 = SnapshotTable.compact(spark, root, "id", nFiles = 2)
    assert(v3 == 3)
    assert(rows(SnapshotTable.read(spark, root)) == expect, "compaction must be data-identical")
    assert(SnapshotTable.read(spark, root).inputFiles.length == 2)
    // time travel across the compaction boundary still works
    assert(rows(SnapshotTable.readVersion(spark, root, 2)) == expect)
    // vacuum to latest-only: pre-compaction dirs are reclaimed, latest reads fine
    val deleted = SnapshotTable.vacuum(spark, root, keepLast = 1)
    assert(deleted.count(_.startsWith("data/")) == 2, s"both original dirs reclaimed: $deleted")
    assert(rows(SnapshotTable.read(spark, root)) == expect)
    assert(SnapshotTable.versions(spark, root) == Seq(3))
  }

  test("exactly-once streaming append: replayed epochs are no-ops") {
    val root = freshRoot()
    val sink = SnapshotTable.streamAppend(root)
    sink(batch(1L -> "a"), 0L)
    sink(batch(2L -> "b"), 1L)
    sink(batch(1L -> "a"), 0L) // restart replays epoch 0
    sink(batch(2L -> "b"), 1L) // and epoch 1
    assert(rows(SnapshotTable.read(spark, root)) == Set(1L -> "a", 2L -> "b"))
    assert(SnapshotTable.history(spark, root).map(c => (c.version, c.batchId)) ==
      Seq((1, Some(0L)), (2, Some(1L))), "each epoch committed exactly once")
    // a lost publish race on an already-committed epoch is also a no-op
    assert(SnapshotTable.appendBatchExactlyOnce(spark, root, batch(1L -> "a"), 0L) == 1)
  }

  test("pinned reader vs vacuum: retained version survives, dropped version fails loudly") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, batch(1L -> "a"))          // v1: dir A
    SnapshotTable.append(spark, root, batch(2L -> "b"))          // v2: dirs A,B
    SnapshotTable.overwrite(spark, root, batch(3L -> "c"))       // v3: dir C (A,B unreferenced by later versions)
    SnapshotTable.append(spark, root, batch(4L -> "d"))          // v4: dirs C,D
    // a reader pins v2 BEFORE any vacuum — plan constructed, not yet fully consumed
    val pinned = SnapshotTable.readVersion(spark, root, 2)
    assert(rows(pinned) == Set(1L -> "a", 2L -> "b"))
    // vacuum retaining v2 (keepLast=3 keeps v2,v3,v4): the pinned reader's
    // dirs are in a retained manifest, so they are NEVER in the delete set —
    // the scan cannot lose a file mid-read
    val d1 = SnapshotTable.vacuum(spark, root, keepLast = 3)
    assert(d1 == Seq("_manifests/v00000001.json"), s"only v1's manifest deletable (its dir is shared with v2): $d1")
    assert(rows(pinned) == Set(1L -> "a", 2L -> "b"), "pinned reader unaffected by a vacuum that retains its version")
    // vacuum dropping v2 (keepLast=1): its dirs ARE reclaimed, and the
    // pinned reader fails LOUDLY (missing files), never silently partially
    val d2 = SnapshotTable.vacuum(spark, root, keepLast = 1)
    assert(d2.count(_.startsWith("data/")) == 2, s"v1/v2's two dirs reclaimed: $d2")
    val ex = intercept[Exception] { rows(pinned) }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(
      causes(ex).exists(c =>
        c.isInstanceOf[java.io.FileNotFoundException] ||
          String.valueOf(c.getMessage).toLowerCase.contains("does not exist") ||
          String.valueOf(c.getMessage).toLowerCase.contains("file not found")),
      s"expected a missing-file failure, got: $ex")
    // and re-pinning the dropped version fails at the manifest, not mid-scan
    intercept[Exception] { SnapshotTable.readVersion(spark, root, 2) }
    // the retained latest is intact throughout
    assert(rows(SnapshotTable.read(spark, root)) == Set(3L -> "c", 4L -> "d"))
  }

  test("schema evolution: new columns null in old rows, old versions keep their exact schema") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, batch(1L -> "a"))
    // widen: v2 adds a `score` column
    SnapshotTable.append(spark, root, Seq((2L, "b", 0.5)).toDF("id", "v", "score"))
    val latest = SnapshotTable.read(spark, root)
    assert(latest.columns.toSeq == Seq("id", "v", "score"), "table schema is the recorded union")
    val byId = latest.collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(byId == Map(1L -> None, 2L -> Some(0.5)), "pre-widening rows read the new column as null")
    // time travel: v1 reads with exactly its committed schema — no `score`
    assert(SnapshotTable.readVersion(spark, root, 1).columns.toSeq == Seq("id", "v"))
    // narrow append: a batch missing `v` persists the table schema; its rows read v=null
    SnapshotTable.append(spark, root, Seq((3L, 0.9)).toDF("id", "score"))
    val v3 = SnapshotTable.read(spark, root)
    assert(v3.columns.toSeq == Seq("id", "v", "score"))
    assert(v3.collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap ==
      Map(1L -> Some("a"), 2L -> Some("b"), 3L -> None))
    // compaction carries the evolved schema across the rewrite
    SnapshotTable.compact(spark, root, "id", nFiles = 1)
    assert(SnapshotTable.read(spark, root).columns.toSeq == Seq("id", "v", "score"))
    assert(rows(SnapshotTable.read(spark, root).select("id", "v").where("v is not null")) ==
      Set(1L -> "a", 2L -> "b"))
    // type change is refused loudly, not silently coexisted in the files
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.append(spark, root, Seq(("4", "d")).toDF("id", "v"))
    }
    assert(ex.getMessage.contains("cannot change column 'id'"), ex.getMessage)
  }

  test("ALTER COLUMN lossless widening is metadata-only: both eras read at the wide type") {
    import org.apache.spark.sql.types._
    import graft.sinks.SnapshotTable.{Bound, WidenCol}
    val root = freshRoot()
    SnapshotTable.create(
      spark, root,
      spark.range(0, 10).selectExpr(
        "CAST(id AS INT) AS i",
        "CAST(id AS FLOAT) AS f",
        "CAST(id AS DECIMAL(5,2)) AS dc",
        "concat('v', id) AS s")) // v1: narrow era
    // ONE metadata-only commit widens all three (no data rewrite)
    val v2 = SnapshotTable.alterSchema(
      spark, root,
      Seq(WidenCol("i", LongType), WidenCol("f", DoubleType), WidenCol("dc", DecimalType(12, 2))))
    assert(SnapshotTable.history(spark, root).last.action == "schema")
    val widened = SnapshotTable.read(spark, root)
    assert(widened.schema("i").dataType == LongType)
    assert(widened.schema("f").dataType == DoubleType)
    assert(widened.schema("dc").dataType == DecimalType(12, 2))
    // the wide era appends at the new types; both eras read correctly
    SnapshotTable.append(
      spark, root,
      spark.range(10, 15).selectExpr(
        "id AS i", "CAST(id AS DOUBLE) AS f", "CAST(id AS DECIMAL(12,2)) AS dc", "concat('w', id) AS s")) // v3
    val all = SnapshotTable.read(spark, root).orderBy("i").collect()
    assert(all.length == 15)
    assert(all.map(_.getLong(0)).toSeq == (0L until 15L))
    assert(all.map(_.getDouble(1)).toSeq == (0 until 15).map(_.toDouble))
    assert(all.map(_.getDecimal(2).longValueExact()).toSeq == (0L until 15L))
    // stats pruning still engages across eras on the widened column
    // (min/max compare on a type-agnostic numeric axis)…
    assert(SnapshotTable.countWhere(spark, root, Seq(Bound("i", Some(12L), Some(14L)))) == 3)
    // …and equality reads stay CORRECT: the narrow era's blooms were
    // hashed at the narrow type, so the widen commit strips them — a
    // stale probe could falsely prove absence
    assert(SnapshotTable.read(spark, root).filter("i = 3").count() == 1)
    assert(SnapshotTable.history(spark, root)
      .find(_.version == v2).get.files.forall(!_.bloom.contains("i")),
      "narrow-era blooms of the widened column must be stripped")
    // time travel: v1 still reads its exact narrow schema
    val old = SnapshotTable.readVersion(spark, root, 1)
    assert(old.schema("i").dataType == IntegerType && old.schema("f").dataType == FloatType)
    // a COW rewrite mixes eras in one commit and stays exact
    SnapshotTable.deleteWhere(spark, root, Seq(Bound("i", Some(4L), Some(11L))))
    assert(SnapshotTable.read(spark, root).count() == 7)
    // refusals: narrowing, lossy long→double, non-numeric, unknown column
    for ((c, t) <- Seq(("i", IntegerType), ("i", DoubleType), ("s", LongType), ("zz", LongType)))
      assert(intercept[Exception](
        SnapshotTable.alterSchema(spark, root, Seq(WidenCol(c, t)))).getMessage.nonEmpty)
    // SQL + catalog routes: ALTER TABLE ... ALTER COLUMN ... TYPE
    graft.sinks.SnapshotSql.register(spark, "widet", root)
    graft.sinks.SnapshotSql.execute(spark, "ALTER TABLE widet ALTER COLUMN dc TYPE DECIMAL(18,2)")
    assert(SnapshotTable.read(spark, root).schema("dc").dataType == DecimalType(18, 2))
    assert(intercept[Exception](graft.sinks.SnapshotSql.execute(
      spark, "ALTER TABLE widet ALTER COLUMN i TYPE INT")).getMessage.contains("lossless"))

    // the remaining whitelisted widening — ≤32-bit integral → DOUBLE —
    // exercised end-to-end: narrow INT32 parquet bytes must read at the
    // wide type through whichever reader variant the runtime picks
    val root2 = freshRoot()
    SnapshotTable.create(
      spark, root2,
      spark.range(0, 8).selectExpr("CAST(id AS INT) AS i2", "CAST(id AS SMALLINT) AS s2"))
    SnapshotTable.alterSchema(
      spark, root2, Seq(WidenCol("i2", DoubleType), WidenCol("s2", IntegerType)))
    SnapshotTable.append(
      spark, root2,
      spark.range(8, 12).selectExpr("CAST(id AS DOUBLE) AS i2", "CAST(id AS INT) AS s2"))
    val both = SnapshotTable.read(spark, root2).orderBy("i2").collect()
    assert(both.map(_.getDouble(0)).toSeq == (0 until 12).map(_.toDouble),
      "narrow-era INT32 bytes must upcast to DOUBLE at scan time")
    assert(both.map(_.getInt(1)).toSeq == (0 until 12), "SMALLINT era must upcast to INT")

    // date → timestamp_ntz: the one CROSS-AXIS widening — old bytes read
    // at midnight (the SQL-standard cast), and the column's min/max strip
    // with its blooms (date stats encode as ISO strings, timestamp probes
    // as epoch micros — a cross-axis compare could false-prune); TINYINT
    // rides along (byte→int within the integral family)
    val root3 = freshRoot()
    SnapshotTable.create(
      spark, root3,
      spark.range(0, 6).selectExpr(
        "DATE_ADD(DATE'2020-01-01', CAST(id AS INT)) AS d",
        "CAST(id AS TINYINT) AS b"))
    val vW = SnapshotTable.alterSchema(
      spark, root3, Seq(WidenCol("d", TimestampNTZType), WidenCol("b", IntegerType)))
    assert(SnapshotTable.history(spark, root3).find(_.version == vW).get.files.forall(fst =>
      !fst.min.contains("d") && !fst.max.contains("d") && !fst.bloom.contains("d")),
      "date-era min/max AND blooms of a cross-axis widened column must strip")
    SnapshotTable.append(
      spark, root3,
      spark.range(6, 9).selectExpr(
        "CAST(DATE_ADD(DATE'2020-01-01', CAST(id AS INT)) AS TIMESTAMP_NTZ) + INTERVAL 6 HOURS AS d",
        "CAST(id AS INT) AS b"))
    val mixed = SnapshotTable.read(spark, root3).orderBy("d").collect()
    assert(mixed.length == 9 && mixed.map(_.getInt(1)).toSeq == (0 until 9),
      "TINYINT era must upcast to INT")
    assert(
      mixed.take(6).map(_.getAs[java.time.LocalDateTime](0).toLocalTime.toString).forall(_ == "00:00"),
      "date-era bytes must read at midnight")
    assert(
      mixed.drop(6).map(_.getAs[java.time.LocalDateTime](0).getHour).forall(_ == 6),
      "wide-era intraday precision must survive")
    // equality/range probes on the widened column stay CORRECT with the
    // stats gone (unprunable = full scan = exact)
    assert(SnapshotTable.read(spark, root3)
      .filter("d = TIMESTAMP_NTZ'2020-01-03 00:00:00'").count() == 1)
  }

  test("vacuum retains every dir a kept version references") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, batch(1L -> "a"))
    SnapshotTable.append(spark, root, batch(2L -> "b"))
    SnapshotTable.overwrite(spark, root, batch(3L -> "c"))
    // keep last 2 (versions 2 and 3): v1's dir is shared with v2 -> retained
    val deleted = SnapshotTable.vacuum(spark, root, keepLast = 2)
    assert(deleted == Seq("_manifests/v00000001.json"), s"nothing else deletable: $deleted")
    assert(rows(SnapshotTable.readVersion(spark, root, 2)) == Set(1L -> "a", 2L -> "b"))
    assert(rows(SnapshotTable.readVersion(spark, root, 3)) == Set(3L -> "c"))
  }

  // ---- manifest-level file statistics + data skipping ----

  private def wide(n: Int): DataFrame =
    spark.range(n.toLong).selectExpr("id AS k", "CAST(id % 7 AS DOUBLE) AS x", "concat('s', lpad(CAST(id AS STRING), 4, '0')) AS s")

  test("per-file stats ride every commit, carry across appends, and cover all live dirs") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, wide(100))
    SnapshotTable.append(spark, root, wide(50))
    val m = SnapshotTable.history(spark, root).last
    assert(m.files.nonEmpty, "append manifest lost the carried file stats")
    assert(m.files.map(_.rows).sum == 150, s"stat rows don't add up: ${m.files}")
    val coveredDirs = m.files.map(f => f.path.take(f.path.lastIndexOf('/'))).toSet
    assert(m.dirs.toSet == coveredDirs, s"dirs ${m.dirs} vs stat-covered $coveredDirs")
    // every stat-bearing file has consistent min <= max on the long column
    assert(m.files.forall(f => f.min.contains("k") && f.max.contains("k")))
  }

  test("data skipping: pruned read == filtered full read, and compaction makes ranges selective") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, wide(1000))
    SnapshotTable.compact(spark, root, "k", nFiles = 8)
    val v = SnapshotTable.latestVersion(spark, root).get
    val bounds = Seq(SnapshotTable.Bound("k", Some(100L), Some(220L)))
    val plan = SnapshotTable.prunePlan(spark, root, v, bounds)
    assert(plan.uncoveredDirs.isEmpty, s"stats should cover the compacted dir: $plan")
    assert(
      plan.skipped.size >= (plan.skipped.size + plan.keep.size) / 2,
      s"range-clustered narrow range should skip most files: keep=${plan.keep.size} skipped=${plan.skipped.size}")
    val pruned = SnapshotTable.readWhere(spark, root, bounds)
    val full = SnapshotTable.read(spark, root).filter("k >= 100 AND k <= 220")
    assert(pruned.count() == 121)
    assert(
      pruned.orderBy("k").collect().toSeq == full.orderBy("k").collect().toSeq,
      "pruned read diverges from full filtered read")
  }

  test("data skipping on string and double columns stays exact") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, wide(500))
    SnapshotTable.compact(spark, root, "s", nFiles = 4)
    val sPruned = SnapshotTable.readWhere(
      spark, root, Seq(SnapshotTable.Bound("s", Some("s0100"), Some("s0150"))))
    assert(sPruned.count() == 51)
    // doubles: x cycles 0..6, present in every file -> no file skippable, still correct
    val v = SnapshotTable.latestVersion(spark, root).get
    val xBounds = Seq(SnapshotTable.Bound("x", Some(2.0), Some(3.0)))
    val xPlan = SnapshotTable.prunePlan(spark, root, v, xBounds)
    assert(xPlan.skipped.isEmpty, s"x spans every file; nothing is provably dead: $xPlan")
    assert(SnapshotTable.readWhere(spark, root, xBounds).count() ==
      SnapshotTable.read(spark, root).filter("x >= 2.0 AND x <= 3.0").count())
  }

  test("bounds on stat-less or unknown columns never prune; pre-stats manifests read in full") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, wide(100))
    // schema evolution: the new column has stats only in the new dir; old
    // files are unprunable on it but read correctly (nulls fail the bound)
    SnapshotTable.append(
      spark, root, spark.range(100, 120).selectExpr("id AS k", "CAST(1.5 AS DOUBLE) AS x", "'t' AS s", "id * 10 AS extra"))
    val got = SnapshotTable.readWhere(spark, root, Seq(SnapshotTable.Bound("extra", Some(1000L), None)))
    assert(got.count() == 20, "rows with null extra must not survive the bound")
    // unknown column: prunePlan keeps everything (bound ignored for pruning)
    val v = SnapshotTable.latestVersion(spark, root).get
    val plan = SnapshotTable.prunePlan(spark, root, v, Seq(SnapshotTable.Bound("nope", Some(1L), None)))
    assert(plan.skipped.isEmpty)
    // pre-stats manifest (legacy): hand-publish a manifest with no files
    // entry over the same dirs -> readVersionWhere must fall back to a full
    // read of the uncovered dirs and still be exact
    val cur = SnapshotTable.history(spark, root).last
    SnapshotTable.publish(
      spark, root,
      SnapshotTable.Commit(cur.version + 1, "append", cur.dirs, 0, None, cur.schemaJson, Seq.empty))
    val legacy = SnapshotTable.readVersionWhere(
      spark, root, cur.version + 1, Seq(SnapshotTable.Bound("k", Some(50L), Some(59L))))
    assert(legacy.count() == 10, "pre-stats manifest must read uncovered dirs in full")
  }

  test("z-order compaction: skipping engages on BOTH clustered columns; single-key does not") {
    // 64x64 grid: a and b independent, 4096 rows
    val grid = spark.range(4096).selectExpr("id", "CAST(id / 64 AS BIGINT) AS a", "id % 64 AS b")
    def skippedFrac(root: String, bound: SnapshotTable.Bound): Double = {
      val v = SnapshotTable.latestVersion(spark, root).get
      val plan = SnapshotTable.prunePlan(spark, root, v, Seq(bound))
      plan.skipped.size.toDouble / (plan.skipped.size + plan.keep.size)
    }
    val aLow = SnapshotTable.Bound("a", Some(0L), Some(7L)) // 1/8 of a's range
    val bLow = SnapshotTable.Bound("b", Some(0L), Some(7L)) // 1/8 of b's range

    val zRoot = freshRoot()
    SnapshotTable.create(spark, zRoot, grid)
    SnapshotTable.compactZOrder(spark, zRoot, Seq("a", "b"), nFiles = 16)
    assert(skippedFrac(zRoot, aLow) >= 0.5, s"z-order should skip most files on a: ${skippedFrac(zRoot, aLow)}")
    assert(skippedFrac(zRoot, bLow) >= 0.5, s"z-order should skip most files on b: ${skippedFrac(zRoot, bLow)}")
    // exactness on both axes
    assert(SnapshotTable.readWhere(spark, zRoot, Seq(aLow)).count() == 512)
    assert(SnapshotTable.readWhere(spark, zRoot, Seq(bLow)).count() == 512)
    assert(SnapshotTable.readWhere(spark, zRoot, Seq(aLow, bLow)).count() == 64)
    // same rows as before the rewrite
    assert(SnapshotTable.read(spark, zRoot).count() == 4096)

    // baseline: single-key clustering on a leaves b predicates unprunable
    val aRoot = freshRoot()
    SnapshotTable.create(spark, aRoot, grid)
    SnapshotTable.compact(spark, aRoot, "a", nFiles = 16)
    assert(skippedFrac(aRoot, bLow) == 0.0, "every a-clustered file spans b's whole range")
  }

  test("countWhere answers from manifest stats, scanning only boundary files") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, wide(1000))
    SnapshotTable.compact(spark, root, "k", nFiles = 8)
    val v = SnapshotTable.latestVersion(spark, root).get
    // no bounds: pure metadata count, zero scan
    val all = SnapshotTable.countPlan(spark, root, v, Seq.empty)
    assert(all.metaRows == 1000 && all.scanPaths.isEmpty, s"count(*) should be metadata-only: $all")
    assert(SnapshotTable.countWhere(spark, root, Seq.empty) == 1000)
    // a range: interior files count from stats, at most the two boundary
    // files (plus range-partitioner slop) are scanned
    val bounds = Seq(SnapshotTable.Bound("k", Some(100L), Some(899L)))
    val plan = SnapshotTable.countPlan(spark, root, v, bounds)
    assert(plan.metaRows > 0, s"interior files should be provably whole: $plan")
    assert(plan.scanPaths.size <= 3, s"only boundary files should need scanning: $plan")
    assert(SnapshotTable.countWhere(spark, root, bounds) == 800)
  }

  test("countWhere never counts null rows via containment proofs") {
    val root = freshRoot()
    val withNulls = spark.range(100).selectExpr(
      "CASE WHEN id % 10 = 0 THEN NULL ELSE id END AS k", "CAST(id AS DOUBLE) AS x", "'c' AS s")
    SnapshotTable.create(spark, root, withNulls)
    // bound spans every non-null k, but files holding nulls must be scanned,
    // not counted whole — nulls fail the bound
    val n = SnapshotTable.countWhere(spark, root, Seq(SnapshotTable.Bound("k", Some(0L), Some(99L))))
    assert(n == 90, s"null k rows must not be counted: $n")
  }

  test("bloom equality skipping engages where min/max can't (long strings, unclustered keys)") {
    val root = freshRoot()
    // tag: 71+ chars -> past the 64-char min/max stat cap, so ONLY the
    // bloom can prune it; aligned with k so clustering localizes values
    SnapshotTable.create(
      spark,
      root,
      spark.range(1000).selectExpr("id AS k", "concat(repeat('x', 70), CAST(id DIV 125 AS STRING)) AS tag"))
    SnapshotTable.compact(spark, root, "k", nFiles = 8)
    val v = SnapshotTable.latestVersion(spark, root).get
    val m = SnapshotTable.history(spark, root).last
    assert(m.files.forall(f => !f.min.contains("tag")), "71-char strings must have no min/max stat")
    assert(m.files.forall(_.bloom.contains("tag")), "every file should carry a tag bloom")
    val probe = "x" * 70 + "3"
    val eq = Seq(SnapshotTable.Bound("tag", Some(probe), Some(probe)))
    val plan = SnapshotTable.prunePlan(spark, root, v, eq)
    assert(plan.skipped.size >= 6, s"bloom should prune most files: $plan")
    assert(SnapshotTable.readWhere(spark, root, eq).count() == 125)
    // absent value: everything pruned, zero-scan count
    val none = "x" * 70 + "nope"
    val noneEq = Seq(SnapshotTable.Bound("tag", Some(none), Some(none)))
    assert(SnapshotTable.prunePlan(spark, root, v, noneEq).keep.isEmpty, "absent value should prune all files")
    assert(SnapshotTable.countWhere(spark, root, noneEq) == 0)
    assert(SnapshotTable.readWhere(spark, root, noneEq).count() == 0)
    // a RANGE bound on the same column must not consult the bloom
    val range = Seq(SnapshotTable.Bound("tag", Some(probe), Some(probe + "z")))
    assert(SnapshotTable.prunePlan(spark, root, v, range).skipped.isEmpty)

    // unclustered LONG point lookup: hash-scattered keys make every file's
    // [min,max] span the whole domain — the bloom still prunes
    val root2 = freshRoot()
    SnapshotTable.create(
      spark,
      root2,
      spark.range(1000).selectExpr("id AS k").repartition(8, col("k") * 2654435761L))
    val v2 = SnapshotTable.latestVersion(spark, root2).get
    val eqK = Seq(SnapshotTable.Bound("k", Some(42L), Some(42L)))
    val planK = SnapshotTable.prunePlan(spark, root2, v2, eqK)
    assert(planK.keep.size <= 2, s"point lookup should reach ~1 file via bloom: $planK")
    assert(SnapshotTable.readWhere(spark, root2, eqK).count() == 1)
  }

  test("OPTIMIZE after widening re-materializes blooms at the new type: point lookups prune again") {
    import org.apache.spark.sql.types.LongType
    import graft.sinks.SnapshotTable.WidenCol
    val root = freshRoot()
    // hash-scattered INT keys: every file's [min,max] spans the domain, so
    // file skipping on a point lookup rests ENTIRELY on the blooms
    SnapshotTable.create(
      spark, root,
      spark.range(4000).selectExpr("CAST(id AS INT) AS k", "concat('v', id) AS s")
        .repartition(16, col("k") * 2654435761L))
    val v1 = SnapshotTable.latestVersion(spark, root).get
    val eq = Seq(SnapshotTable.Bound("k", Some(42L), Some(42L)))
    assert(SnapshotTable.prunePlan(spark, root, v1, eq).keep.size <= 2,
      "narrow-era blooms prune the point lookup")
    // widening strips the blooms (type-hashed) — the lookup degrades to a
    // full candidate set, correct but unpruned
    SnapshotTable.alterSchema(spark, root, Seq(WidenCol("k", LongType)))
    val v2 = SnapshotTable.latestVersion(spark, root).get
    assert(SnapshotTable.prunePlan(spark, root, v2, eq).keep.size >= 12,
      "widening must leave the lookup essentially unpruned (stripped blooms; min/max on a scattered key is unselective), not wrong")
    assert(SnapshotTable.readWhere(spark, root, eq).count() == 1)
    // OPTIMIZE (bin-packing compact; round-robin output keeps min/max
    // unselective, so the rebuilt pruning is bloom evidence) restores
    // file skipping AT THE WIDENED TYPE
    SnapshotTable.compactSmall(spark, root, smallBytes = 8192, targetBytes = 8192)
    val v3 = SnapshotTable.latestVersion(spark, root).get
    val m3 = SnapshotTable.readManifest(spark, root, v3)
    assert(m3.action == "compact" && m3.files.size >= 4, s"${m3.action} ${m3.files.size}")
    assert(m3.files.forall(_.bloom.contains("k")), "compact must rebuild blooms at the widened type")
    val plan3 = SnapshotTable.prunePlan(spark, root, v3, eq)
    assert(plan3.keep.size <= 2, s"rebuilt blooms must prune the LONG-typed probe: $plan3")
    assert(SnapshotTable.readWhere(spark, root, eq).count() == 1)
    // absent key: everything pruned — the rebuilt blooms are exact
    val none = Seq(SnapshotTable.Bound("k", Some(424242L), Some(424242L)))
    assert(SnapshotTable.prunePlan(spark, root, v3, none).keep.isEmpty)
  }

  test("bitmap-aggregated blooms are byte-identical to the position-set encoding") {
    // The writer folds each file's blooms as a bitset. This pins the
    // published string: for every file, the manifest bloom must equal
    // encodeBloom of the probe positions of exactly the file's non-null
    // values — the same bytes the earlier collect_set and
    // bitmap_construct_agg aggregates produced.
    import org.apache.spark.sql.types.{LongType, StringType}
    val root = freshRoot()
    SnapshotTable.create(
      spark,
      root,
      spark
        .range(500)
        .selectExpr(
          "id AS k",
          "CAST(id % 7 AS STRING) AS s",
          "IF(id % 5 = 0, CAST(NULL AS LONG), id * 3) AS n")
        .repartition(4, col("k")))
    val m = SnapshotTable.history(spark, root).last
    assert(m.files.count(_.rows > 0) >= 2, "want multiple statted files")
    m.files.filter(_.rows > 0).foreach { fst =>
      val df = spark.read.parquet(SnapshotTable.dataRoot(root) + "/" + fst.path)
      def expected(colName: String, dt: org.apache.spark.sql.types.DataType): String = {
        val vals = df.select(colName).collect().map(_.get(0)).filter(_ != null).toSeq
        val pos = vals.flatMap(v => SnapshotTable.probeBloom(dt, v).get).distinct
        SnapshotTable.encodeBloom(pos)
      }
      assert(fst.bloom("k") == expected("k", LongType), s"k bloom of ${fst.path}")
      assert(fst.bloom("s") == expected("s", StringType), s"s bloom of ${fst.path}")
      assert(fst.bloom("n") == expected("n", LongType), s"n bloom of ${fst.path}")
    }
  }

  test("bloom skipping stays exact with nulls and across DML-carried stats") {
    val root = freshRoot()
    SnapshotTable.create(
      spark,
      root,
      spark.range(200).selectExpr(
        "id AS k",
        "CASE WHEN id < 100 THEN concat(repeat('y', 70), CAST(id DIV 50 AS STRING)) ELSE NULL END AS tag"))
    // nulls never match equality; all-null regions prune away entirely
    val probe = "y" * 70 + "1"
    val eq = Seq(SnapshotTable.Bound("tag", Some(probe), Some(probe)))
    assert(SnapshotTable.readWhere(spark, root, eq).count() == 50)
    // blooms survive a DML rewrite: delete some k-range, then probe again —
    // carried files keep their original blooms, the rewritten file gets a new one
    SnapshotTable.deleteWhere(spark, root, Seq(SnapshotTable.Bound("k", Some(0L), Some(49L))))
    assert(SnapshotTable.readWhere(spark, root, eq).count() == 50)
    val m = SnapshotTable.history(spark, root).last
    assert(m.files.forall(_.bloom.contains("tag")), "blooms must ride DML commits")
  }

  test("z-order over a string axis: order-preserving prefix keys bound BOTH axes' spans") {
    // 64 distinct string prefixes x 64 numeric values, independent — the
    // string axis is the first 6 UTF-8 bytes as a 48-bit integer (monotone
    // in the string), so z-order clusters BOTH axes and per-file [min,max]
    // stay narrow on each
    val grid = spark
      .range(4096)
      .selectExpr("id", "concat('p', lpad(CAST(id DIV 64 AS STRING), 2, '0'), '-tail') AS s", "id % 64 AS b")
    val root = freshRoot()
    SnapshotTable.create(spark, root, grid)
    SnapshotTable.compactZOrder(spark, root, Seq("s", "b"), nFiles = 16)
    val v = SnapshotTable.latestVersion(spark, root).get
    def skippedFrac(bound: SnapshotTable.Bound): Double = {
      val plan = SnapshotTable.prunePlan(spark, root, v, Seq(bound))
      plan.skipped.size.toDouble / (plan.skipped.size + plan.keep.size)
    }
    val sLow = SnapshotTable.Bound("s", Some("p00"), Some("p07~")) // 1/8 of the string range
    val bLow = SnapshotTable.Bound("b", Some(0L), Some(7L)) // 1/8 of b's range
    assert(skippedFrac(sLow) >= 0.5, s"string-axis range should skip most files: ${skippedFrac(sLow)}")
    assert(skippedFrac(bLow) >= 0.5, s"numeric-axis range should skip most files: ${skippedFrac(bLow)}")
    // exactness on both axes and conjunction
    assert(SnapshotTable.readWhere(spark, root, Seq(sLow)).count() == 512)
    assert(SnapshotTable.readWhere(spark, root, Seq(bLow)).count() == 512)
    assert(SnapshotTable.readWhere(spark, root, Seq(sLow, bLow)).count() == 64)
    // LIKE-prefix skipping engages through the Catalyst path on the
    // clustered string column (StartsWith → deadPrefix over narrow stats)
    val rel = SnapshotTable.relation(spark, root).filter("s LIKE 'p03%'")
    assert(rel.count() == 64)
    val scanned = rel.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metrics("numFiles").value
    }
    assert(scanned.exists(_ <= 8), s"prefix predicate should scan a minority of the 16 files: $scanned")
    // short strings sort before their extensions through the prefix key:
    // a z-order over unpadded mixed-length strings stays order-exact
    val mixRoot = freshRoot()
    SnapshotTable.create(
      spark, mixRoot,
      spark.range(1000).selectExpr("id", "repeat(chr(97 + CAST(id % 26 AS INT)), 1 + CAST(id % 4 AS INT)) AS s"))
    SnapshotTable.compactZOrder(spark, mixRoot, Seq("s", "id"), nFiles = 8)
    val got = SnapshotTable
      .readWhere(spark, mixRoot, Seq(SnapshotTable.Bound("s", Some("a"), Some("b"))))
      .count()
    val want = SnapshotTable.read(spark, mixRoot).filter("s >= 'a' AND s <= 'b'").count()
    assert(got == want, s"mixed-length string z-order must stay exact: $got vs $want")
  }

  test("pre-epoch timestamp stats stay monotone: pruning never skips matching rows") {
    // java.sql.Timestamp holds nanos in [0,1e9): truncating division mapped
    // -0.5s to +500000µs, making manifest min/max non-monotone for
    // pre-1970 data — a bounded read could then skip a file containing
    // matches. floorDiv semantics keep the micros axis ordered.
    import org.apache.spark.sql.functions.{col => c, lit, to_timestamp}
    val root = freshRoot()
    val df = Seq(
      ("a", java.sql.Timestamp.valueOf("1969-12-31 23:59:59.5")),
      ("b", java.sql.Timestamp.valueOf("1969-12-31 23:59:58.0")),
      ("c", java.sql.Timestamp.valueOf("1970-01-01 00:00:00.2")),
      ("d", java.sql.Timestamp.valueOf("1971-06-01 12:00:00.0"))).toDF("k", "t")
    SnapshotTable.create(spark, root, df.repartition(4, c("k"))) // scatter across files
    val lo = java.sql.Timestamp.valueOf("1969-12-31 23:59:59.0")
    val hi = java.sql.Timestamp.valueOf("1970-01-01 00:00:01.0")
    val got = SnapshotTable
      .readWhere(spark, root, Seq(SnapshotTable.Bound("t", Some(lo), Some(hi))))
      .select("k").as[String].collect().toSet
    assert(got == Set("a", "c"), s"pre-epoch rows must survive pruning: $got")
    // count path agrees (metadata/scan split uses the same axis)
    assert(SnapshotTable.countWhere(spark, root, Seq(SnapshotTable.Bound("t", Some(lo), Some(hi)))) == 2L)
  }

  test("dropped-column revival: same type revives the bytes, different type is refused") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, batch(1L -> "a", 2L -> "b"))
    SnapshotTable.dropColumn(spark, root, "v")
    assert(SnapshotTable.read(spark, root).columns.toSeq == Seq("id"))
    // a different-typed revival is refused LOUDLY (live files still carry
    // string bytes under physical name 'v')
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.append(spark, root, Seq((3L, 33)).toDF("id", "v"))
    }
    assert(ex.getMessage.contains("revives"), ex.getMessage)
    // same-typed revival un-drops: the old bytes reappear under the column
    SnapshotTable.append(spark, root, Seq((3L, "c")).toDF("id", "v"))
    assert(rows(SnapshotTable.read(spark, root)) == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // and after the revival the ledger is clear: evolution is unrestricted again
    assert(SnapshotTable.history(spark, root).last.dropped.isEmpty)
    // a full rewrite also clears the ledger: drop again, compact, then an
    // int-typed 'v' is fine (no live file carries string bytes anymore)
    SnapshotTable.dropColumn(spark, root, "v")
    SnapshotTable.compact(spark, root, "id", nFiles = 1)
    SnapshotTable.append(spark, root, Seq((4L, 44)).toDF("id", "v"))
    assert(SnapshotTable.read(spark, root).schema("v").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("checkpointed planning over 10^4 file entries is identical to the JSON path") {
    import org.json4s.{JLong, JString, JValue}
    val root = freshRoot()
    // a real table fixes the schema (k LONG, x DOUBLE, s STRING); the
    // synthetic manifest then scales its files list to 10,000 entries —
    // planning never opens data files, so fake paths are fine
    SnapshotTable.create(spark, root, wide(10))
    val base = SnapshotTable.history(spark, root).last
    val nFiles = 10000
    val files = (0 until nFiles).map { i =>
      val lo = i * 100L
      val hi = lo + 99L
      val bloomCols: Map[String, String] =
        if (i % 3 == 0) {
          // a bloom containing exactly value lo (typed LongType probe)
          val pos = SnapshotTable
            .probeBloom(org.apache.spark.sql.types.LongType, java.lang.Long.valueOf(lo))
            .get
          Map("k" -> SnapshotTable.encodeBloom(pos))
        } else Map.empty
      SnapshotTable.FileStat(
        f"data/synth/f$i%05d.parquet",
        100L,
        Map[String, JValue]("k" -> JLong(lo), "s" -> JString(f"s$i%05d")),
        Map[String, JValue]("k" -> JLong(hi), "s" -> JString(f"s$i%05d~")),
        Map("k" -> 100L, "s" -> 100L),
        bloomCols,
        bytes = 12345L)
    }
    val synth = SnapshotTable.Commit(
      base.version + 1, "append", files.map(_.path) :+ "data/legacy-dir", 0L,
      None, base.schemaJson, files)
    SnapshotTable.publish(spark, root, synth)
    SnapshotTable.writeCheckpoint(spark, root, synth)
    val probes = Seq(
      Seq(SnapshotTable.Bound("k", Some(5000L), Some(20000L))), // range
      Seq(SnapshotTable.Bound("k", Some(300L), Some(300L))), // equality: bloom-backed on i%3 files
      Seq(SnapshotTable.Bound("k", Some(301L), Some(301L))), // equality NOT in the bloom
      Seq(SnapshotTable.Bound("s", Some("s00100"), Some("s00200"))), // string axis
      Seq(SnapshotTable.Bound("nope", Some(1L), None)), // unknown column: no pruning
      Seq.empty[SnapshotTable.Bound]) // no bounds
    probes.foreach { bounds =>
      val json = SnapshotTable.prunePlanOf(synth, bounds)
      val ckpt = SnapshotTable.prunePlanCheckpointed(spark, root, synth.version, bounds)
      assert(ckpt.keep.sorted == json.keep.sorted, s"keep diverged for $bounds")
      assert(ckpt.skipped.sorted == json.skipped.sorted, s"skipped diverged for $bounds")
      assert(ckpt.uncoveredDirs == json.uncoveredDirs, s"uncovered diverged for $bounds")
    }
    // sanity: the probes actually exercise skipping (not vacuous equality)
    val range = SnapshotTable.prunePlanCheckpointed(
      spark, root, synth.version, Seq(SnapshotTable.Bound("k", Some(5000L), Some(20000L))))
    assert(range.skipped.size > nFiles / 2, "range should skip most synthetic files")
    // the bloom prunes BEYOND min/max: k=301 lands in file 3's [300,399]
    // range, but its bloom holds only 300 → provably absent → zero keeps;
    // k=300 keeps exactly that one file
    val eqMiss = SnapshotTable.prunePlanCheckpointed(
      spark, root, synth.version, Seq(SnapshotTable.Bound("k", Some(301L), Some(301L))))
    assert(eqMiss.keep.isEmpty, s"bloom should prove 301 absent: ${eqMiss.keep}")
    val eqHit = SnapshotTable.prunePlanCheckpointed(
      spark, root, synth.version, Seq(SnapshotTable.Bound("k", Some(300L), Some(300L))))
    assert(eqHit.keep == Seq("data/synth/f00003.parquet"), s"${eqHit.keep}")
    // lite manifest reads the metadata without the files array
    val lite = SnapshotTable.readManifestLite(spark, root, synth.version)
    assert(lite.files.isEmpty && lite.dirs.size == nFiles + 1 && lite.schemaJson == base.schemaJson)
    // ...and parses through the SAME Commit parser as the full read: masks
    // and the dropped-column ledger must survive a lite read (a lite read
    // that lost masks would resurrect deleted rows)
    val morRoot = freshRoot()
    SnapshotTable.create(spark, morRoot, wide(100))
    SnapshotTable.deleteWhereMor(
      spark, morRoot, Seq(SnapshotTable.Bound("k", Some(10L), Some(20L))))
    val vLatest = SnapshotTable.latestVersion(spark, morRoot).get
    val full = SnapshotTable.readManifest(spark, morRoot, vLatest)
    val liteM = SnapshotTable.readManifestLite(spark, morRoot, vLatest)
    assert(liteM.masks == full.masks && liteM.dropped == full.dropped && liteM.constraints == full.constraints)
  }

  test("readWhereCheckpointed: checkpoint-planned read equals the JSON-planned read") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, wide(1000))
    SnapshotTable.compact(spark, root, "k", nFiles = 8)
    // no checkpoint yet: loud refusal, not a silent fallback
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.readWhereCheckpointed(spark, root, Seq(SnapshotTable.Bound("k", Some(1L), None)))
    }
    assert(e.getMessage.contains("no checkpoint"), e.getMessage)
    SnapshotTable.checkpoint(spark, root)
    val bounds = Seq(SnapshotTable.Bound("k", Some(100L), Some(220L)))
    val viaCkpt = SnapshotTable.readWhereCheckpointed(spark, root, bounds)
    val viaJson = SnapshotTable.readVersionWhere(
      spark, root, SnapshotTable.latestVersion(spark, root).get, bounds)
    assert(viaCkpt.orderBy("k").collect().toSeq == viaJson.orderBy("k").collect().toSeq)
    assert(viaCkpt.count() == 121)
    // ...and readWhere gives the identical result whichever plan its
    // auto-select lands on (at 8 files the crossover keeps the JSON path;
    // the crossover spec below pins the selection itself)
    assert(SnapshotTable.readWhere(spark, root, bounds).count() == 121)
    // pending merge-on-read masks COMPOSE with checkpointed planning:
    // the lite manifest carries the mask records, pruning runs before
    // mask application, result ≡ the JSON-planned read
    SnapshotTable.deleteWhereMor(spark, root, Seq(SnapshotTable.Bound("k", Some(0L), Some(150L))))
    SnapshotTable.checkpoint(spark, root)
    val maskedCkpt = SnapshotTable.readWhereCheckpointed(spark, root, bounds)
    val maskedJson = SnapshotTable.readVersionWhere(
      spark, root, SnapshotTable.latestVersion(spark, root).get, bounds)
    assert(maskedCkpt.orderBy("k").collect().toSeq == maskedJson.orderBy("k").collect().toSeq)
    assert(maskedCkpt.count() == 70, "rows 151..220 survive the masked delete")
  }

  test("checkpoint auto-select applies the file-count crossover: small tables keep the JSON path") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, wide(1000))
    SnapshotTable.compact(spark, root, "k", nFiles = 8)
    val v = SnapshotTable.checkpoint(spark, root)
    val bounds = Seq(SnapshotTable.Bound("k", Some(100L), Some(220L)))
    // 8 files is far below the measured ~1e5 crossover: a CURRENT
    // checkpoint exists but auto-select stays on the JSON path (the
    // checkpoint's fixed Spark-job overhead loses below the crossover)
    assert(!SnapshotTable.checkpointPreferred(spark, root, v))
    assert(SnapshotTable.readWhere(spark, root, bounds).count() == 121)
    // a LEGACY checkpoint (no _meta sidecar) keeps the pre-crossover
    // prefer-checkpoint behavior — never a silent downgrade of old tables —
    // and readWhere then plans the SAME table through it, result-identical
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "_manifests", f"ckpt_v$v%08d", "_meta.json"))
    assert(SnapshotTable.checkpointPreferred(spark, root, v))
    assert(SnapshotTable.readWhere(spark, root, bounds).count() == 121)
  }

  test("auto-checkpoint: every Nth commit past minFiles, plans select it with no explicit call") {
    val root = freshRoot()
    spark.conf.set("spark.graft.checkpoint.interval", "3")
    spark.conf.set("spark.graft.checkpoint.minFiles", "1")
    try {
      SnapshotTable.create(spark, root, wide(300)) // v1
      SnapshotTable.append(spark, root, wide(10)) // v2
      assert(SnapshotTable.latestCheckpoint(spark, root).isEmpty, "below the interval: no checkpoint")
      SnapshotTable.append(spark, root, wide(10)) // v3 → auto-checkpoint
      assert(SnapshotTable.latestCheckpoint(spark, root).contains(3), "v3 auto-checkpoints")
      // readWhere plans through it with no checkpoint() call, result-identical
      val bounds = Seq(SnapshotTable.Bound("k", Some(5L), Some(8L)))
      assert(
        SnapshotTable.readWhere(spark, root, bounds).orderBy("k", "s").collect().toSeq ==
          SnapshotTable.readVersionWhere(spark, root, 3, bounds).orderBy("k", "s").collect().toSeq)
      // vacuum reclaims checkpoints whose version fell out of history
      SnapshotTable.append(spark, root, wide(10)) // v4
      SnapshotTable.append(spark, root, wide(10)) // v5
      SnapshotTable.append(spark, root, wide(10)) // v6 → auto-checkpoint
      assert(SnapshotTable.latestCheckpoint(spark, root).contains(6))
      val deleted = SnapshotTable.vacuum(spark, root, keepLast = 2) // retains v5, v6
      assert(deleted.contains("_manifests/ckpt_v00000003"), s"stale checkpoint reclaimed: $deleted")
      assert(SnapshotTable.latestCheckpoint(spark, root).contains(6), "current checkpoint retained")
      assert(SnapshotTable.readWhere(spark, root, bounds).count() ==
        SnapshotTable.readVersionWhere(spark, root, 6, bounds).count())
    } finally {
      spark.conf.unset("spark.graft.checkpoint.interval")
      spark.conf.unset("spark.graft.checkpoint.minFiles")
    }
  }

  test("derived-dir publish is object-store-safe: readers consume exactly the _SUCCESS-named set") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val root = freshRoot()
    SnapshotTable.create(spark, root, wide(1000))
    SnapshotTable.compact(spark, root, "k", nFiles = 8)
    val v = SnapshotTable.checkpoint(spark, root)
    val ckptDir = Paths.get(root, "_manifests", f"ckpt_v$v%08d")
    val success = ckptDir.resolve("_SUCCESS")
    def parts(): Seq[String] =
      Files.list(ckptDir).toArray.map(_.toString.split('/').last).toSeq
        .filter(n => !n.startsWith("_") && !n.startsWith(".")).sorted
    // the marker is written LAST and is SELF-VALIDATING: it names exactly
    // the data files of this publish (never positional like an empty flag)
    val manifestTxt = new String(Files.readAllBytes(success), "UTF-8")
    parts().foreach(p => assert(manifestTxt.contains(p), s"_SUCCESS must name $p"))
    val bounds = Seq(SnapshotTable.Bound("k", Some(100L), Some(220L)))
    val jsonPlan = SnapshotTable.prunePlan(spark, root, v, bounds)
    def ckptPlan() = SnapshotTable.prunePlanCheckpointed(spark, root, v, bounds)
    assert(ckptPlan().keep.sorted == jsonPlan.keep.sorted)
    // a lost-race / crashed publisher's ORPHAN part is invisible: readers
    // scan the named set, never the dir listing (a listing-based read
    // would double every verdict row here)
    val namedPart = ckptDir.resolve(parts().head)
    val orphan = ckptDir.resolve("part-orphan-from-lost-race.parquet")
    Files.copy(namedPart, orphan, StandardCopyOption.REPLACE_EXISTING)
    val planned = ckptPlan()
    assert(planned.keep.sorted == jsonPlan.keep.sorted, "orphan part must not change the plan")
    assert(
      (planned.keep ++ planned.skipped).size == (jsonPlan.keep ++ jsonPlan.skipped).size,
      "orphan part must not duplicate verdicts")
    // _SUCCESS naming a MISSING file fails LOUDLY at scan — never a silent
    // drop of live files from the plan (the torn-listing failure mode)
    val moved = ckptDir.resolve(".hidden-" + namedPart.getFileName)
    Files.move(namedPart, moved)
    intercept[Exception](ckptPlan())
    Files.move(moved, namedPart)
    // a dir WITHOUT _SUCCESS is an in-flight/torn publish: invisible to
    // checkpoint selection, refused by the planner, and a re-publish
    // completes it WITHOUT deleting the dir (a live writer may be mid-move)
    Files.delete(success)
    assert(SnapshotTable.latestCheckpoint(spark, root).isEmpty)
    intercept[IllegalArgumentException](
      SnapshotTable.readWhereCheckpointed(spark, root, bounds).count())
    SnapshotTable.checkpoint(spark, root)
    assert(SnapshotTable.latestCheckpoint(spark, root).contains(v))
    assert(ckptPlan().keep.sorted == jsonPlan.keep.sorted)
    assert(Files.exists(orphan), "re-publish must not delete a possibly-live racer's files")
    // the age-gated vacuum sweep reclaims orphans the manifest doesn't name
    Thread.sleep(30)
    val swept = SnapshotTable.vacuum(spark, root, keepLast = 100, minAgeMs = 10L)
    assert(!Files.exists(orphan), s"vacuum should sweep the orphan: $swept")
    assert(swept.exists(_.endsWith("part-orphan-from-lost-race.parquet")), swept.toString)
    assert(ckptPlan().keep.sorted == jsonPlan.keep.sorted, "named set untouched by the sweep")
    // the CDC range cache publishes through the same protocol
    SnapshotTable.deleteWhere(spark, root, Seq(SnapshotTable.Bound("k", Some(0L), Some(49L))))
    val v2 = SnapshotTable.latestVersion(spark, root).get
    val expect = SnapshotTable.changesBetween(spark, root, v, v2)
      .orderBy("k").collect().toSeq
    val rel = SnapshotTable.materializeChanges(spark, root, v, v2)
    val cdcDir = Paths.get(root, rel)
    // crashed publish: parts landed, marker missing → the next call
    // completes the publish alongside and the feed reads exactly its set
    Files.delete(cdcDir.resolve("_SUCCESS"))
    val cached = SnapshotTable.changesBetweenCached(spark, root, v, v2)
    assert(cached.orderBy("k").collect().toSeq == expect)
    assert(Files.exists(cdcDir.resolve("_SUCCESS")), "re-publish restored the marker")
    // an EXPLICIT empty named set means "this publish has zero files" —
    // never a listing fallback (junk in the dir stays invisible)...
    // (NIO writes below bypass Hadoop's ChecksumFileSystem — drop the
    // stale .crc sidecar so reads exercise the protocol, not checksums)
    def rawWrite(bytes: Array[Byte]): Unit = {
      Files.deleteIfExists(cdcDir.resolve("._SUCCESS.crc"))
      Files.write(cdcDir.resolve("_SUCCESS"), bytes)
    }
    val orphan2 = cdcDir.resolve("part-junk.parquet")
    Files.copy(ckptDir.resolve("_SUCCESS"), orphan2) // any bytes; must never be read
    rawWrite("""{"files":[]}""".getBytes("UTF-8"))
    assert(SnapshotTable.changesBetweenCached(spark, root, v, v2).count() == 0)
    // ...while a ZERO-LENGTH marker is the legacy (dir-rename-era) format
    // whose publish was all-or-nothing: the listing is the set — proven
    // on a FRESH single-publish range dir (the crash-replayed dir above
    // holds two publishes' parts, exactly why the named set is the only
    // thing a NEW-protocol reader may trust)
    val expect01 = SnapshotTable.changesBetween(spark, root, 0, 1).orderBy("k").collect().toSeq
    val legacyRel = SnapshotTable.materializeChanges(spark, root, 0, 1)
    val legacyDir = Paths.get(root, legacyRel)
    Files.deleteIfExists(legacyDir.resolve("._SUCCESS.crc"))
    Files.write(legacyDir.resolve("_SUCCESS"), Array.empty[Byte])
    assert(
      SnapshotTable.changesBetweenCached(spark, root, 0, 1).orderBy("k").collect().toSeq == expect01,
      "legacy empty marker reads via the dir listing")
    // a corrupt (non-protocol, non-empty) marker fails LOUDLY — a listing
    // fallback would serve exactly the unnamed junk the protocol hides
    rawWrite("not json".getBytes("UTF-8"))
    intercept[Exception](SnapshotTable.changesBetweenCached(spark, root, v, v2).count())
  }

  test("stress: concurrent racers publishing the same derived dir all land a complete readable set") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, wide(2000))
    SnapshotTable.compact(spark, root, "k", nFiles = 8)
    SnapshotTable.deleteWhere(spark, root, Seq(SnapshotTable.Bound("k", Some(0L), Some(199L))))
    val v = SnapshotTable.latestVersion(spark, root).get
    val expect = SnapshotTable.changesBetween(spark, root, v - 1, v).orderBy("k").collect().toSeq
    // 4 threads race the SAME range's first materialization (no marker
    // yet, every racer publishes) — whichever _SUCCESS lands last must
    // name a complete, self-consistent set; losers' parts are invisible
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = SnapshotTable.materializeChanges(spark, root, v - 1, v)
        })
      }
      futs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(
      SnapshotTable.changesBetweenCached(spark, root, v - 1, v).orderBy("k").collect().toSeq == expect,
      "racing publishes must never mix or tear the readable set")
    // repeated reads are stable (the cache hit path, no recompute)
    assert(SnapshotTable.changesBetweenCached(spark, root, v - 1, v).count() == expect.size)
    // any lost-race orphans are unnamed and the age-gated vacuum sweeps them
    Thread.sleep(30)
    SnapshotTable.vacuum(spark, root, keepLast = 100, minAgeMs = 10L)
    assert(
      SnapshotTable.changesBetweenCached(spark, root, v - 1, v).orderBy("k").collect().toSeq == expect,
      "the named set survives the orphan sweep")
  }

  test("compactWhere re-clusters only the selected key range; masks reconcile partially") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, wide(1000))
    SnapshotTable.compact(spark, root, "k", nFiles = 8) // ~125 keys per file
    val before = SnapshotTable.history(spark, root).last.files.map(_.path)
    val want = SnapshotTable.read(spark, root).orderBy("k").collect().toSeq
    // re-cluster only the low quarter: intersecting files rewrite, the rest carry
    SnapshotTable.compactWhere(
      spark, root, Seq(SnapshotTable.Bound("k", Some(0L), Some(249L))), "k", nFiles = 1)
    val after = SnapshotTable.history(spark, root).last
    assert(after.action == "compact", "partial compaction must be stream/CDC-invisible")
    val carried = after.files.map(_.path).toSet.intersect(before.toSet)
    assert(carried.size >= 5, s"non-intersecting files must carry: ${carried.size} of 8")
    assert(carried.size < 8, "intersecting files must rewrite")
    assert(SnapshotTable.read(spark, root).orderBy("k").collect().toSeq == want, "data-identical")
    // CDC skips it (same as whole-table compaction)
    val v = after.version
    assert(SnapshotTable.changesBetween(spark, root, v - 1, v).count() == 0)
    // a non-intersecting range is a no-op: no empty commit
    assert(SnapshotTable.compactWhere(
      spark, root, Seq(SnapshotTable.Bound("k", Some(5000L), Some(6000L))), "k", 1) == v)
    // merge-on-read interplay: masks on rewritten entries reconcile, the
    // untouched files' masks survive and keep applying
    SnapshotTable.deleteWhereMor(spark, root, Seq(SnapshotTable.Bound("k", Some(100L), Some(149L))))
    SnapshotTable.deleteWhereMor(spark, root, Seq(SnapshotTable.Bound("k", Some(800L), Some(849L))))
    SnapshotTable.compactWhere(
      spark, root, Seq(SnapshotTable.Bound("k", Some(0L), Some(299L))), "k", nFiles = 1)
    val m = SnapshotTable.readManifest(spark, root, SnapshotTable.latestVersion(spark, root).get)
    assert(m.masks.nonEmpty, "the untouched range's mask must survive")
    assert(SnapshotTable.read(spark, root).count() == 900)
    assert(SnapshotTable.read(spark, root).filter("k BETWEEN 100 AND 149").count() == 0)
    assert(SnapshotTable.read(spark, root).filter("k BETWEEN 800 AND 849").count() == 0)
  }

  test("compactSmall bin-packs only sub-threshold files, shuffle-free, mask-aware, CDC-invisible") {
    import graft.sinks.SnapshotTable.Bound
    val root = freshRoot()
    // one clustered dir of FAT rows (so its files clear the threshold),
    // then a trickle of tiny appends — the streaming-sink shape
    // compactSmall exists for
    val wide = spark.range(0L, 20000L).selectExpr(
      "id AS k", "repeat(uuid(), 4) AS v") // ~150B/row → ~1.5MB/file
    SnapshotTable.create(spark, root, wide.repartitionByRange(2, col("k")).sortWithinPartitions("k"))
    (0 until 6).foreach(i =>
      SnapshotTable.append(
        spark, root,
        spark.range(100000L + i * 10, 100000L + i * 10 + 10).selectExpr("id AS k", "'s' AS v")))
    val beforeM = SnapshotTable.readManifest(
      spark, root, SnapshotTable.latestVersion(spark, root).get)
    val small = 256L * 1024
    val carried = beforeM.files.filter(_.bytes >= small).map(_.path)
    assert(carried.size == 2, s"fixture: expected 2 big clustered files, got $carried")
    val expectN = SnapshotTable.read(spark, root).count()
    val v = SnapshotTable.compactSmall(spark, root, smallBytes = small, targetBytes = 8L * 1024 * 1024)
    val afterM = SnapshotTable.readManifest(spark, root, v)
    assert(afterM.action == "compact")
    val afterPaths = afterM.files.map(_.path).toSet
    assert(carried.forall(afterPaths), "big files must carry forward untouched")
    assert(afterM.files.size == carried.size + 1, s"expected one packed file, got ${afterM.files.map(_.path)}")
    assert(SnapshotTable.read(spark, root).count() == expectN)
    assert(SnapshotTable.read(spark, root).filter("k >= 100000").count() == 60)
    // CDC-invisible and a second run no-ops without a version bump
    assert(SnapshotTable.changesBetween(spark, root, v - 1, v).count() == 0)
    assert(SnapshotTable.compactSmall(spark, root, smallBytes = small) == v)

    // masks: a MOR delete over a small file reconciles on packing; an
    // untouched big file keeps its mask
    SnapshotTable.deleteWhereMor(spark, root, Seq(Bound("k", Some(100000L), Some(100004L)))) // masks the packed file (itself still small)
    SnapshotTable.append(spark, root, spark.range(200000L, 200010L).selectExpr("id AS k", "'y' AS v"))
    SnapshotTable.deleteWhereMor(spark, root, Seq(Bound("k", Some(0L), Some(4L)))) // masks a big file
    val want = SnapshotTable.read(spark, root).orderBy("k").collect().toSeq
    val v2 = SnapshotTable.compactSmall(spark, root, smallBytes = small)
    val m2 = SnapshotTable.readManifest(spark, root, v2)
    assert(m2.masks.nonEmpty, "the untouched big file's mask must survive")
    assert(m2.masks.forall(_.entries.forall(e => carried.contains(e))),
      "surviving mask entries must reference only carried big files")
    assert(SnapshotTable.read(spark, root).orderBy("k").collect().toSeq == want)
    assert(SnapshotTable.read(spark, root).filter("k BETWEEN 100000 AND 100004").count() == 0)
    // bare OPTIMIZE routes here with the 32MB default — every file in
    // this fixture is small under it, so the whole table packs to one
    // file and the surviving big-file mask reconciles on the way
    graft.sinks.SnapshotSql.register(spark, "small_t", root)
    val v3 = graft.sinks.SnapshotSql.execute(spark, "OPTIMIZE small_t")
    assert(v3 == v2 + 1)
    val m3 = SnapshotTable.readManifest(spark, root, v3)
    assert(m3.files.size == 1 && m3.masks.isEmpty)
    assert(SnapshotTable.read(spark, root).orderBy("k").collect().toSeq == want)
  }

  test("restore rolls back to a prior version as a metadata-only commit; history stays intact") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, wide(1000))
    SnapshotTable.compact(spark, root, "k", nFiles = 4) // v2
    val want = SnapshotTable.readVersion(spark, root, 2).orderBy("k").collect().toSeq
    SnapshotTable.deleteWhere(spark, root, Seq(SnapshotTable.Bound("k", Some(0L), Some(99L)))) // v3
    SnapshotTable.append(spark, root, wide(50)) // v4
    val dirsBefore = fs_ls(root)
    val v5 = SnapshotTable.restore(spark, root, 2)
    assert(v5 == 5)
    // content is exactly v2's, schema included
    assert(SnapshotTable.read(spark, root).orderBy("k").collect().toSeq == want)
    // metadata-only: the restore wrote no data files at all
    assert(fs_ls(root) == dirsBefore, "restore must not write data")
    assert(SnapshotTable.history(spark, root).last.action == "restore")
    // the undone versions still time-travel (history is append-only)
    assert(SnapshotTable.readVersion(spark, root, 4).count() ==
      SnapshotTable.readVersion(spark, root, 3).count() + 50)
    // a restore is itself undoable by another restore
    SnapshotTable.restore(spark, root, 4)
    assert(SnapshotTable.read(spark, root).count() ==
      SnapshotTable.readVersion(spark, root, 4).count())
    // restore-to-current is a no-op (no empty commit)
    assert(SnapshotTable.restore(spark, root, 6) == 6)
    assert(SnapshotTable.latestVersion(spark, root).contains(6))
    // a restored version's dirs are LIVE again for vacuum retention: a
    // vacuum keeping only recent history must not delete v2's data out
    // from under the restore commit that re-references it
    SnapshotTable.restore(spark, root, 2) // v7 references v2's dirs
    SnapshotTable.vacuum(spark, root, keepLast = 1)
    assert(SnapshotTable.read(spark, root).orderBy("k").collect().toSeq == want)
    // restore over pending MOR masks carries them (read applies masks)
    val mroot = freshRoot()
    SnapshotTable.create(spark, mroot, wide(500))
    SnapshotTable.deleteWhereMor(spark, mroot, Seq(SnapshotTable.Bound("k", Some(0L), Some(49L)))) // v2: 450 live
    SnapshotTable.append(spark, mroot, wide(10)) // v3
    SnapshotTable.restore(spark, mroot, 2) // v4
    assert(SnapshotTable.read(spark, mroot).count() == 450)
    // the CDC feed is exact ACROSS restore commits — the incremental
    // file/mask diff algebra assumes masks only shrink, so a restore's
    // delta must come from the full snapshot diff: undoing the append
    // emits exactly those 10 rows as deletes...
    val undo = SnapshotTable.changesBetween(spark, mroot, 3, 4)
    assert(undo.count() == 10, s"restore delta must be the snapshot diff: ${undo.count()}")
    assert(undo.select("_change_type").distinct().collect().map(_.getString(0)).toSeq == Seq("delete"))
    // ...and restoring PAST the mask revives the 50 masked rows as inserts
    // (a dropped mask emits nothing under the incremental algebra)
    SnapshotTable.restore(spark, mroot, 1) // v5
    val revive = SnapshotTable.changesBetween(spark, mroot, 4, 5)
    assert(
      revive.filter("_change_type = 'insert'").count() == 50,
      "rows a restore revives must surface as CDC inserts")
    assert(revive.filter("_change_type = 'delete'").count() == 0)
  }

  private def fs_ls(root: String): Set[String] = {
    val d = new java.io.File(root, "data")
    if (!d.exists) Set.empty
    else d.listFiles.flatMap(x => Option(x.listFiles).getOrElse(Array.empty).map(_.getName).map(n => x.getName + "/" + n)).toSet
  }

  test("commit store seam: an external put-if-absent store preserves exactly-once on overwriting PUTs") {
    val root = freshRoot()
    try {
      SnapshotTable.setCommitStore(new graft.sinks.SingleProcessCommitStore)
      SnapshotTable.create(spark, root, batch(1L -> "a"))
      SnapshotTable.append(spark, root, batch(2L -> "b"))
      // a racing writer that read latest=1 and tries to claim version 2:
      // the store's claim table refuses — even though its WRITE primitive
      // (fs.create overwrite=true) would have silently clobbered the winner
      val m = SnapshotTable.history(spark, root).head
      val ex = intercept[SnapshotTable.ConcurrentCommitException] {
        SnapshotTable.publish(spark, root, SnapshotTable.Commit(2, "append", m.dirs, 0L))
      }
      assert(ex.getMessage.contains("version 2"), ex.getMessage)
      assert(rows(SnapshotTable.read(spark, root)) == Set(1L -> "a", 2L -> "b"))
      // append's automatic retry still converges through the store
      SnapshotTable.append(spark, root, batch(3L -> "c"))
      assert(rows(SnapshotTable.read(spark, root)) == Set(1L -> "a", 2L -> "b", 3L -> "c"))
      // a table committed BEFORE the store attached refuses rather than
      // overwrites (the store never saw those claims)
      val ex2 = intercept[SnapshotTable.ConcurrentCommitException] {
        val last = SnapshotTable.history(spark, root).last
        SnapshotTable.setCommitStore(new graft.sinks.SingleProcessCommitStore) // fresh claim table
        SnapshotTable.publish(spark, root, last.copy(version = last.version)) // existing manifest
      }
      assert(ex2.getMessage.contains("concurrently"), ex2.getMessage)
      // a REAL I/O failure after the claim must release it: the version is
      // still winnable, so a retry must hit the same I/O error again — a
      // kept claim would turn every retry into a misleading
      // ConcurrentCommitException spin against a broken volume
      val store = new graft.sinks.SingleProcessCommitStore
      val blocker = new java.io.File(root, "blocker")
      assert(blocker.createNewFile())
      val badPath = new org.apache.hadoop.fs.Path(root + "/blocker/child.json") // parent is a FILE
      val fs = badPath.getFileSystem(spark.sessionState.newHadoopConf())
      def attempt(): Throwable = intercept[Throwable] {
        store.putIfAbsent(fs, badPath, Array[Byte](1, 2, 3))
      }
      val first = attempt()
      assert(!first.isInstanceOf[SnapshotTable.ConcurrentCommitException], first.toString)
      val second = attempt()
      assert(!second.isInstanceOf[SnapshotTable.ConcurrentCommitException],
        s"claim not released after I/O failure: $second")
    } finally SnapshotTable.resetCommitStore()
  }

  test("sizeInBytes is unknown when ANY live file lacks recorded bytes") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, batch(1L -> "a"))
    val m = SnapshotTable.history(spark, root).last
    val schema = SnapshotTable.schemaFromJson(m.schemaJson.get)
    val sized = new graft.sinks.SnapshotFileIndex(spark, root, m, schema)
    assert(sized.sizeInBytes > 0 && sized.sizeInBytes < Long.MaxValue)
    // one unsized file (bytes = -1, a pre-bytes manifest) → the total is
    // UNKNOWN, not the partial sum: a partial sum could auto-broadcast a
    // huge table
    val mixed = m.copy(files = m.files.head.copy(bytes = -1L) +: m.files.tail)
    val idx = new graft.sinks.SnapshotFileIndex(spark, root, mixed, schema)
    assert(idx.sizeInBytes == Long.MaxValue)
  }

  test("cap_cdc_onwrite: COW DML captures its delta — CDC reads run NO except-all diff, streams match the diff path exactly") {
    import org.apache.spark.sql.functions.{concat, lit}
    import SnapshotTable.Bound
    val dir = freshRoot()
    val o = spark
      .range(1000)
      .selectExpr("id AS k", "concat('v', id) AS s")
      .repartitionByRange(8, col("k"))
      .sortWithinPartitions("k")
    def dml(tr: String): Unit = {
      // v2 delete: interior files drop wholly (zero I/O), boundary rewrites
      SnapshotTable.deleteWhere(spark, tr, Seq(Bound("k", Some(0L), Some(200L))))
      // v3 update: delete(old) + insert(new) pairs
      SnapshotTable.updateWhere(
        spark, tr, Seq(Bound("k", Some(500L), Some(600L))),
        Map("s" -> concat(col("s"), lit("!"))))
      // v4 merge: replaced rows + fresh inserts
      SnapshotTable.mergeUpsert(
        spark, tr,
        spark.range(550, 1100, 50).selectExpr("id AS k", "concat('m', id) AS s"),
        Seq("k"))
      // v5 GENERAL merge: conditional update, matched delete, INSERT *,
      // and a conditional BY SOURCE delete — the per-clause capture path
      SnapshotTable.mergeInto(
        spark, tr,
        spark.range(700, 1200, 100).selectExpr("id AS k", "concat('g', id) AS s"),
        Seq("k"),
        matched = Seq(
          SnapshotTable.MatchedUpdate(Some("__s.k < 900"), Some(Map("s" -> "__s.s"))),
          SnapshotTable.MatchedDelete(None)),
        notMatched = Seq(SnapshotTable.NotMatchedInsert(None, None)),
        targetAlias = "__t",
        sourceAlias = "__s",
        notMatchedBySource = Seq(SnapshotTable.MatchedDelete(Some("__t.k = 300"))),
        nmbsPruneBounds = Seq(Seq(Bound("k", Some(300L), Some(300L)))))
    }
    val r = dir + "/t"
    SnapshotTable.create(spark, r, o)
    dml(r)
    // capture-OFF twin: the except-all diff path is the semantics oracle
    val twin = dir + "/twin"
    spark.conf.set("spark.graft.cdc.onWrite", "false")
    try { SnapshotTable.create(spark, twin, o); dml(twin) }
    finally spark.conf.unset("spark.graft.cdc.onWrite")

    // every DML commit recorded capture; create did not; the v2 delete's
    // wholly-dropped files stay OUTSIDE covered (zero-I/O drop preserved)
    val (m1, m2, m4) = (
      SnapshotTable.readManifest(spark, r, 1),
      SnapshotTable.readManifest(spark, r, 2),
      SnapshotTable.readManifest(spark, r, 4))
    assert(m1.cdc.isEmpty)
    assert(m2.cdc.isDefined && m2.cdc.get.chDir.isDefined)
    val removedV2 = m1.files.map(_.path).toSet -- m2.files.map(_.path).toSet
    assert((removedV2 -- m2.cdc.get.covered.toSet).nonEmpty,
      "interior files of the range delete must be UNCAPTURED whole-file drops")
    assert(m4.cdc.isDefined && m4.cdc.get.insEntries.nonEmpty, "merge source dir is the insert set")

    // the captured read plans NO except-all; the twin's diff path does
    def exceptsIn(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect {
        case e: org.apache.spark.sql.catalyst.plans.logical.Except => e
      }.size
    val ch = SnapshotTable.changesBetween(spark, r, 1, 5)
    val chTwin = SnapshotTable.changesBetween(spark, twin, 1, 5)
    assert(exceptsIn(ch) == 0, "capture path must not diff rewritten files")
    assert(exceptsIn(chTwin) > 0, "twin must exercise the diff path for this comparison to mean anything")
    def stream(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(stream(ch) == stream(chTwin), "capture path must reproduce the diff path's exact multiset")

    // vacuum: sidecars of retained manifests survive; aged-out ones sweep
    val f = new java.io.File(r + "/_cdc")
    def sidecars() = Option(f.list()).map(_.count(_.startsWith("w-"))).getOrElse(0)
    val before = sidecars()
    assert(before == 4, s"four DML commits capture ONE sidecar each, got $before")
    Thread.sleep(20)
    SnapshotTable.vacuum(spark, r, keepLast = 5, minAgeMs = 5) // all retained
    assert(sidecars() == before, "retained manifests' sidecars are live")
    SnapshotTable.vacuum(spark, r, keepLast = 3, minAgeMs = 5) // v2 ages out
    assert(sidecars() < before, "unreferenced sidecars reclaim with their versions")
    // the retained commits' CDC still reads
    assert(SnapshotTable.changesBetween(spark, r, 3, 4).count() > 0)
  }

  test("cap_cdc_onwrite: metadata commits never inherit capture; reader honors only DML actions") {
    import org.apache.spark.sql.functions.{concat, lit}
    import SnapshotTable.Bound
    val r = freshRoot() + "/t"
    SnapshotTable.create(
      spark, r,
      spark.range(100).selectExpr("id AS k", "concat('v', id) AS s")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k")) // v1
    SnapshotTable.updateWhere(
      spark, r, Seq(Bound("k", Some(10L), Some(19L))),
      Map("s" -> concat(col("s"), lit("!")))) // v2: capture recorded
    val v2Rows = SnapshotTable.changesBetween(spark, r, 1, 2).count()
    assert(v2Rows == 20, s"update emits 10 delete+insert pairs, got $v2Rows")
    // metadata-only commits built from the prior manifest must NOT carry
    // its capture forward — an inherited record would re-emit v2's delta
    SnapshotTable.addColumn(spark, r, "note", org.apache.spark.sql.types.StringType) // v3
    SnapshotTable.addCheck(spark, r, "k_nonneg", "k >= 0") // v4
    SnapshotTable.restore(spark, r, 2) // v5
    assert(SnapshotTable.readManifest(spark, r, 3).cdc.isEmpty, "schema commit inherits no capture")
    assert(SnapshotTable.readManifest(spark, r, 4).cdc.isEmpty, "constraint commit inherits no capture")
    assert(SnapshotTable.readManifest(spark, r, 5).cdc.isEmpty, "restore inherits no capture")
    assert(SnapshotTable.changesBetween(spark, r, 2, 4).count() == 0,
      "pure-metadata range emits NO change rows")
    // belt-and-braces: even a SYNTHETICALLY inherited record on a
    // non-DML action is ignored by the reader's whitelist — publish a
    // schema-action manifest carrying v2's capture verbatim
    val bad = SnapshotTable.readManifest(spark, r, 5)
      .copy(version = 6, action = "schema", addedRows = 0L, batchId = None,
        cdc = SnapshotTable.readManifest(spark, r, 2).cdc)
    assert(bad.cdc.isDefined)
    SnapshotTable.publish(spark, r, bad)
    assert(SnapshotTable.changesBetween(spark, r, 5, 6).count() == 0,
      "an inherited capture on a metadata action must never re-emit")
    // the rename guard: case-variant duplicates refuse (resolver-aware —
    // the restore rolled 'note' back, so rename 's' onto k's case variant)
    val e = intercept[Exception](SnapshotTable.renameColumn(spark, r, "s", "K"))
    assert(e.getMessage.contains("already exists"), e.getMessage)
  }

  test("cap_cdc_onwrite: the CDC stream FOLDS back to the exact table over a randomized DML history, capture and diff paths alike") {
    import org.apache.spark.sql.functions.{concat, lit}
    import SnapshotTable.Bound
    def frame(from: Long, n: Long) =
      spark.range(from, from + n).selectExpr("id AS k", "concat('v', id) AS s")
    for (captureOn <- Seq(true, false)) {
      spark.conf.set("spark.graft.cdc.onWrite", captureOn.toString)
      try {
        val rnd = new scala.util.Random(1717) // same seed → same history
        val root = freshRoot() + "/t"
        SnapshotTable.create(
          spark, root,
          frame(0, 400).repartitionByRange(4, col("k")).sortWithinPartitions("k"))
        var nextK = 1000L
        (1 to 10).foreach { i =>
          rnd.nextInt(8) match {
            case 0 =>
              SnapshotTable.append(spark, root, frame(nextK, 40)); nextK += 40
            case 1 =>
              val lo = rnd.nextInt(300).toLong
              SnapshotTable.deleteWhere(spark, root, Seq(Bound("k", Some(lo), Some(lo + 60))))
            case 2 =>
              val lo = rnd.nextInt(300).toLong
              SnapshotTable.updateWhere(
                spark, root, Seq(Bound("k", Some(lo), Some(lo + 50))),
                Map("s" -> concat(col("s"), lit("u" + i))))
            case 3 =>
              SnapshotTable.mergeUpsert(
                spark, root,
                frame(rnd.nextInt(300).toLong, 30).withColumn("s", concat(col("s"), lit("m" + i))),
                Seq("k"))
            case 4 =>
              SnapshotTable.deleteExpr(
                spark, root, col("k") % 13 === i.toLong, Seq.empty)
            case 5 => // merge-on-read: masks exercise the NEW-mask CDC steps
              SnapshotTable.mergeUpsertMor(
                spark, root,
                frame(rnd.nextInt(200).toLong, 20).withColumn("s", lit("mor" + i)),
                Seq("k"))
            case 6 => // restore: the reader's full-snapshot-diff branch
              val cur = SnapshotTable.latestVersion(spark, root).get
              SnapshotTable.restore(spark, root, math.max(1, cur - 2))
            case 7 => // compact: data-identical, must contribute NOTHING
              SnapshotTable.compact(spark, root, "k", nFiles = 3)
          }
        }
        val latest = SnapshotTable.latestVersion(spark, root).get
        val ch = SnapshotTable.changesBetween(spark, root, 0, latest)
        val ins = ch.filter(col("_change_type") === "insert").select("k", "s")
        val del = ch.filter(col("_change_type") === "delete").select("k", "s")
        val folded = ins.exceptAll(del).orderBy("k", "s").collect().toSeq
        val table = SnapshotTable.read(spark, root).orderBy("k", "s").collect().toSeq
        assert(
          folded == table,
          s"captureOn=$captureOn: CDC fold (${folded.size} rows) != table (${table.size} rows) after $latest versions")
      } finally spark.conf.unset("spark.graft.cdc.onWrite")
    }
  }

  test("cap_cdc_onwrite: addedRows is every commit's live-row delta over a masked DML history, and the feed folds back, capture on and off") {
    import org.apache.spark.sql.functions.{concat, lit}
    import SnapshotTable.{Bound, MatchedDelete, MatchedUpdate, NotMatchedInsert}
    def frame(from: Long, n: Long) =
      spark.range(from, from + n).selectExpr("id AS k", "concat('v', id) AS s")
    for (captureOn <- Seq(true, false)) {
      spark.conf.set("spark.graft.cdc.onWrite", captureOn.toString)
      try {
        val rnd = new scala.util.Random(2929) // same seed → same history
        val root = freshRoot() + "/t"
        SnapshotTable.create(
          spark, root,
          frame(0, 400).repartitionByRange(4, col("k")).sortWithinPartitions("k"))
        var live = 400L
        var nextK = 1000L
        // every op twice, in a fixed cycle over random ranges: masks from
        // the merge-on-read ops sit on the files the copy-on-write ones
        // rewrite, whose row counts then come from their write alone
        (0 until 14).foreach { i =>
          val lo = rnd.nextInt(380).toLong
          i % 7 match {
            case 0 => SnapshotTable.deleteWhereMor(spark, root, Seq(Bound("k", Some(lo), Some(lo + 15))))
            case 1 =>
              SnapshotTable.updateWhereMor(
                spark, root, Seq(Bound("k", Some(lo), Some(lo + 15))),
                Map("s" -> concat(col("s"), lit("um" + i))))
            case 2 =>
              SnapshotTable.mergeUpsertMor(
                spark, root, frame(lo, 10).withColumn("s", lit("mor" + i)), Seq("k"))
            case 3 => SnapshotTable.deleteWhere(spark, root, Seq(Bound("k", Some(lo), Some(lo + 30))))
            case 4 =>
              SnapshotTable.updateWhere(
                spark, root, Seq(Bound("k", Some(lo), Some(lo + 30))),
                Map("s" -> concat(col("s"), lit("u" + i))))
            case 5 => // a duplicate-key source: both rows of each repeated key land
              SnapshotTable.mergeUpsert(
                spark, root,
                frame(lo, 10).union(frame(lo, 3)).union(frame(nextK, 2)).withColumn("s", lit("m" + i)),
                Seq("k"))
              nextK += 2
            case 6 => // the general clause set: update, delete, insert
              SnapshotTable.mergeInto(
                spark, root,
                frame(lo, 20).union(frame(nextK, 3)).withColumn("s", lit("g" + i)),
                Seq("k"),
                matched = Seq(
                  MatchedUpdate(Some("__s.k % 3 = 0"), Some(Map("s" -> "__s.s"))),
                  MatchedDelete(Some("__s.k % 3 = 1"))),
                notMatched = Seq(NotMatchedInsert(None, None)),
                targetAlias = "__t",
                sourceAlias = "__s")
              nextK += 3
          }
          val m = SnapshotTable.history(spark, root).last
          val now = SnapshotTable.read(spark, root).count()
          assert(
            m.addedRows == now - live,
            s"captureOn=$captureOn v${m.version} (${m.action}): addedRows ${m.addedRows}, live rows $live -> $now")
          live = now
        }
        val latest = SnapshotTable.latestVersion(spark, root).get
        val ch = SnapshotTable.changesBetween(spark, root, 0, latest)
        val ins = ch.filter(col("_change_type") === "insert").select("k", "s")
        val del = ch.filter(col("_change_type") === "delete").select("k", "s")
        val folded = ins.exceptAll(del).orderBy("k", "s").collect().toSeq
        val table = SnapshotTable.read(spark, root).orderBy("k", "s").collect().toSeq
        assert(
          folded == table,
          s"captureOn=$captureOn: CDC fold (${folded.size} rows) != table (${table.size} rows) after $latest versions")
      } finally spark.conf.unset("spark.graft.cdc.onWrite")
    }
  }

  /** The descriptions of the Spark jobs `body` runs. */
  private def jobsOf(body: => Unit): Seq[String] = {
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.toArray(Array.empty[String]).toSeq
  }

  /** The SQL executions `body` runs, each as the `SnapshotTable` methods
    * on the stack that started it, innermost first. */
  private def executionsOf(body: => Unit): Seq[Seq[String]] = {
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val execs = new java.util.concurrent.CopyOnWriteArrayList[Seq[String]]()
    val Frame = """graft\.sinks\.SnapshotTable\$(?:Base)?\.([A-Za-z]+)\(""".r
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execs.add(Frame.findAllMatchIn(s.details).map(_.group(1)).toSeq)
        case _ => ()
      }
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    execs.toArray(Array.empty[Seq[String]]).toSeq
  }

  test("cap_cdc_onwrite: a copy-on-write commit over masked files is ONE write: no count, no second write, the capture-off feed and files") {
    import org.apache.spark.sql.functions.{concat, lit}
    import SnapshotTable.{Bound, MatchedDelete, MatchedUpdate, NotMatchedInsert}
    def frame(from: Long, n: Long) =
      spark.range(from, from + n).selectExpr("id AS k", "concat('v', id) AS s")
    // four range files; a keys mask on the first two, a pred mask on the
    // last two — every commit below rewrites masked files, whose live
    // rows the stats cannot give
    def setUp(root: String): Unit = {
      SnapshotTable.create(spark, root, frame(0, 400).repartitionByRange(4, col("k")).sortWithinPartitions("k"))
      SnapshotTable.mergeUpsertMor(spark, root, frame(50, 1).union(frame(150, 1)).withColumn("s", lit("mor")), Seq("k"))
      SnapshotTable.deleteWhereMor(spark, root, Seq(Bound("k", Some(250L), Some(260L))))
      SnapshotTable.deleteWhereMor(spark, root, Seq(Bound("k", Some(350L), Some(360L))))
    }
    val ops: Seq[(String, String => Unit)] = Seq(
      "deleteWhere" -> (r => SnapshotTable.deleteWhere(spark, r, Seq(Bound("k", Some(10L), Some(20L))))),
      "updateWhere" -> (r => SnapshotTable.updateWhere(
        spark, r, Seq(Bound("k", Some(270L), Some(280L))), Map("s" -> concat(col("s"), lit("!"))))),
      "mergeUpsert" -> (r => SnapshotTable.mergeUpsert(
        spark, r, frame(140, 3).union(frame(141, 1)).union(frame(2100, 2)).withColumn("s", lit("m")), Seq("k"))),
      "mergeInto" -> (r => SnapshotTable.mergeInto(
        spark, r, frame(380, 10).union(frame(2000, 2)).withColumn("s", lit("g")), Seq("k"),
        matched = Seq(MatchedUpdate(Some("__s.k % 2 = 0"), Some(Map("s" -> "__s.s"))), MatchedDelete(None)),
        notMatched = Seq(NotMatchedInsert(None, None)),
        targetAlias = "__t",
        sourceAlias = "__s")))
    val root = freshRoot()
    val (on, off) = (root + "/on", root + "/off")
    setUp(on)
    spark.conf.set("spark.graft.cdc.onWrite", "false")
    val offExecs =
      try {
        setUp(off)
        ops.map(o => executionsOf(o._2(off)))
      } finally spark.conf.unset("spark.graft.cdc.onWrite")
    val base = SnapshotTable.latestVersion(spark, on).get
    ops.zip(offExecs).zipWithIndex.foreach { case (((name, op), offEx), i) =>
      for ((side, execs) <- Seq("on" -> executionsOf(op(on)), "off" -> offEx)) {
        // a write of the table's files; a merge's first one lands its source
        val writes = execs.filter(e => e.exists(_.startsWith("write")) && !e.contains("writeSource"))
        val counts = execs.filter(_.contains("liveRows"))
        val merge = name.startsWith("merge")
        assert(
          writes.size == 1 && counts.isEmpty,
          s"$name (capture $side): ${writes.size} rewrite writes, ${counts.size} counts: $execs")
        // nothing else runs: a delete or update is its write alone, a merge
        // adds its source write and its touched-file probe
        assert(execs.size == (if (merge) 3 else 1), s"$name (capture $side): $execs")
      }
      val v = base + i + 1
      def feed(r: String) = SnapshotTable.changesBetween(spark, r, v - 1, v)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(feed(on) == feed(off), s"$name: the captured feed differs from the capture-off twin's")
      val (mOn, mOff) = (SnapshotTable.readManifest(spark, on, v), SnapshotTable.readManifest(spark, off, v))
      assert(mOn.addedRows == mOff.addedRows)
      // capture adds the sidecar only: the data files are the same bytes
      def files(c: SnapshotTable.Commit) =
        c.files.map(f => (f.rows, f.bytes, f.min.toSeq.sortBy(_._1).toString, f.max.toSeq.sortBy(_._1).toString)).sorted
      assert(files(mOn) == files(mOff), s"$name: the capture-off twin wrote other data files")
    }
  }

  test("reads plan from the manifest: no listing job past 32 files, no schema inference over a keys mask") {
    // a copy-on-write delete whose bound touches all 64 files: its rewrite
    // and change capture read 64 entries, and none of them is listed
    val root = freshRoot()
    SnapshotTable.create(spark, root, spark.range(0, 6400, 1, 64).selectExpr("id AS k", "id % 10 AS x"))
    assert(SnapshotTable.history(spark, root).last.files.count(_.rows > 0) == 64)
    val listings = jobsOf(SnapshotTable.deleteWhere(spark, root, Seq(SnapshotTable.Bound("x", Some(0L), Some(4L)))))
      .filter(_.contains("Listing leaf files"))
    assert(listings.isEmpty, s"listing jobs: $listings")
    assert(SnapshotTable.read(spark, root).count() == 3200)

    // a version with a keys mask: building its reads runs no job at all
    // (the key sidecar is read with its known schema, nothing is inferred)
    val mor = freshRoot()
    SnapshotTable.create(spark, mor, spark.range(0, 100, 1, 4).selectExpr("id AS k", "id * 2 AS v"))
    val v = SnapshotTable.mergeUpsertMor(
      spark, mor, spark.range(0, 100, 10).selectExpr("id AS k", "-id AS v"), Seq("k"))
    assert(SnapshotTable.history(spark, mor).last.masks.exists(_.kind == "keys"))
    val bound = Seq(SnapshotTable.Bound("k", Some(0L), Some(49L)))
    var frames = Seq.empty[DataFrame]
    val built = jobsOf {
      frames = Seq(
        SnapshotTable.readVersion(spark, mor, v),
        SnapshotTable.relationVersion(spark, mor, v),
        SnapshotTable.readVersionWhere(spark, mor, v, bound),
        SnapshotTable.changesBetween(spark, mor, v - 1, v))
    }
    assert(built.isEmpty, s"jobs while building keys-masked reads: $built")
    val Seq(all, rel, where, changes) = frames
    assert(all.count() == 100 && rel.count() == 100 && where.count() == 50)
    assert(all.filter("v < 0 OR k = 0").count() == 10)
    assert(changes.groupBy("_change_type").count().as[(String, Long)].collect().toMap ==
      Map("insert" -> 10L, "delete" -> 10L))
  }

  test("a pre-schema manifest over dirs whose footers differ reads null-padded on every surface") {
    // the read-compat path: a manifest with no recorded schema (and no
    // per-file stats) over one dir of (k, x) and one of (k, x, extra)
    val root = freshRoot()
    spark.range(0, 5).selectExpr("id AS k", "id * 10 AS x").write.parquet(root + "/data/a")
    spark.range(5, 10).selectExpr("id AS k", "id * 10 AS x", "id * 100 AS extra").write.parquet(root + "/data/b")
    SnapshotTable.publish(spark, root, SnapshotTable.Commit(1, "append", Seq("data/a", "data/b"), 10L))
    def rowsOf(df: DataFrame): Seq[(Long, Long, Option[Long])] =
      df.select("k", "x", "extra").as[(Long, Long, Option[Long])].collect().toSeq.sortBy(_._1)
    val want = (0L until 10L).map(k => (k, k * 10, if (k >= 5) Some(k * 100) else None))
    assert(rowsOf(SnapshotTable.readVersion(spark, root, 1)) == want)
    assert(rowsOf(SnapshotTable.relationVersion(spark, root, 1)) == want)
    assert(rowsOf(SnapshotTable.readVersionWhere(
      spark, root, 1, Seq(SnapshotTable.Bound("k", Some(3L), Some(6L))))) == want.filter(r => r._1 >= 3 && r._1 <= 6))
    val changes = SnapshotTable.changesBetween(spark, root, 0, 1)
    assert(changes.select("_change_type").distinct().as[String].collect().toSeq == Seq("insert"))
    assert(rowsOf(changes) == want)
  }
}
