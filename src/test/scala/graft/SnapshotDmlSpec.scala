package graft

import java.nio.file.Files

import graft.sinks.SnapshotTable
import graft.sinks.SnapshotTable.Bound
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** Row-level DML on the snapshot table (copy-on-write DELETE / UPDATE /
  * MERGE) and row-level CDC between versions. Beyond result correctness,
  * these cases assert the copy-on-write ECONOMICS — that the manifest
  * stats actually bound the rewrite set: provably-unmatched files carry
  * forward as the same physical files, provably-all-matching files drop
  * with zero I/O, and only boundary files rewrite. */
class SnapshotDmlSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-dml").toString

  /** 0..999 on k, range-clustered into 8 files of exactly 125 rows. */
  private def clustered(root: String): Unit = {
    SnapshotTable.create(
      spark,
      root,
      spark.range(1000).selectExpr("id AS k", "CAST(id % 7 AS DOUBLE) AS x", "concat('s', id) AS s"))
    SnapshotTable.compact(spark, root, "k", nFiles = 8)
  }

  private def ks(df: DataFrame): Set[Long] = df.select("k").as[Long].collect().toSet

  test("deleteWhere: wholly-covered file drops with zero I/O, everything else carries as-is") {
    val root = freshRoot()
    clustered(root)
    val before = SnapshotTable.history(spark, root).last
    assert(before.files.size == 8)
    val fileRanges = before.files.map(f => f.path -> (f.min("k"), f.max("k"))).toMap
    // delete exactly one file's [min,max] — stats prove every row of that
    // file matches and no other file can match
    val victim = before.files.minBy(_.path)
    val lo = victim.min("k").values.asInstanceOf[Number].longValue()
    val hi = victim.max("k").values.asInstanceOf[Number].longValue()
    val v = SnapshotTable.deleteWhere(spark, root, Seq(Bound("k", Some(lo), Some(hi))))
    val after = SnapshotTable.history(spark, root).last
    assert(after.version == v && after.action == "delete")
    // no rewrite happened: the new manifest references exactly the 7
    // surviving ORIGINAL files, by path
    assert(after.dirs.toSet == (before.files.map(_.path).toSet - victim.path),
      s"expected the 7 untouched files carried by path: ${after.dirs}")
    assert(after.files.map(_.path).toSet == after.dirs.toSet)
    assert(after.files.forall(f => fileRanges.contains(f.path)), "carried stats must be the originals")
    assert(after.addedRows == -(victim.rows), s"net delta should be -${victim.rows}: ${after.addedRows}")
    assert(SnapshotTable.read(spark, root).count() == 1000 - victim.rows)
    assert(!ks(SnapshotTable.read(spark, root)).exists(k => k >= lo && k <= hi))
    // time travel: the pre-delete version is still complete
    assert(SnapshotTable.readVersion(spark, root, v - 1).count() == 1000)
  }

  test("deleteWhere: boundary files rewrite, interior files drop, outside files carry") {
    val root = freshRoot()
    clustered(root)
    val before = SnapshotTable.history(spark, root).last
    // [100, 899]: file [0,124] and [875,999] are boundary (partial match),
    // the six interior files are wholly covered, none is fully outside
    SnapshotTable.deleteWhere(spark, root, Seq(Bound("k", Some(100L), Some(899L))))
    val after = SnapshotTable.history(spark, root).last
    assert(ks(SnapshotTable.read(spark, root)) == ((0L to 99L) ++ (900L to 999L)).toSet)
    val carried = after.dirs.toSet intersect before.files.map(_.path).toSet
    assert(carried.isEmpty, "every file intersected the range; none should carry verbatim")
    assert(after.dirs.size == 1, s"one rewritten dir expected: ${after.dirs}")
    assert(after.addedRows == -800)
    // countWhere still consistent on the post-delete table
    assert(SnapshotTable.countWhere(spark, root, Seq(Bound("k", Some(0L), Some(999L)))) == 200)
  }

  test("deleteWhere keeps null rows: a range predicate never matches null") {
    val root = freshRoot()
    SnapshotTable.create(
      spark,
      root,
      spark.range(100).selectExpr("CASE WHEN id % 10 = 0 THEN NULL ELSE id END AS k", "concat('s', id) AS s"))
    SnapshotTable.deleteWhere(spark, root, Seq(Bound("k", Some(0L), Some(999L))))
    val left = SnapshotTable.read(spark, root)
    assert(left.count() == 10, "exactly the 10 null-k rows survive")
    assert(left.filter(col("k").isNotNull).count() == 0)
  }

  test("updateWhere: matching rows change, others (and carried files) don't; type is preserved") {
    val root = freshRoot()
    clustered(root)
    val before = SnapshotTable.history(spark, root).last
    // bump x on k in [0, 124] — exactly one clustered file; the rest must carry by path
    SnapshotTable.updateWhere(
      spark,
      root,
      Seq(Bound("k", Some(0L), Some(124L))),
      Map("x" -> (col("x") + lit(100)), "s" -> lit("upd")))
    val after = SnapshotTable.history(spark, root).last
    assert(after.action == "update" && after.addedRows == 0)
    val carried = after.dirs.toSet intersect before.files.map(_.path).toSet
    assert(carried.size == 7, s"7 provably-unmatched files must carry by path: ${after.dirs}")
    val cur = SnapshotTable.read(spark, root)
    assert(cur.count() == 1000)
    assert(cur.filter("k <= 124 AND x >= 100 AND s = 'upd'").count() == 125)
    assert(cur.filter("k > 124 AND (x >= 100 OR s = 'upd')").count() == 0)
    // the updated column kept its DOUBLE type (int literal was cast back)
    assert(cur.schema("x").dataType == org.apache.spark.sql.types.DoubleType)
    // unknown SET column is refused loudly
    val ex = intercept[Exception] {
      SnapshotTable.updateWhere(spark, root, Seq(Bound("k", Some(0L), Some(1L))), Map("nope" -> lit(1)))
    }
    assert(ex.getMessage.contains("nope"), ex.getMessage)
  }

  test("mergeUpsert: replaces matched keys, inserts the rest, rewrites only key-range files") {
    val root = freshRoot()
    clustered(root)
    val before = SnapshotTable.history(spark, root).last
    // source keys 120..130 (straddles the [0,124]/[125,249] file boundary)
    // plus brand-new keys 2000..2004 — the new keys widen the [min,max]
    // envelope over EVERY file, so only the exact touched-file discovery
    // (semi-join probe) keeps the other six files out of the rewrite
    val source = spark
      .range(120, 131)
      .selectExpr("id AS k", "CAST(-1.0 AS DOUBLE) AS x", "'merged' AS s")
      .union(spark.range(2000, 2005).selectExpr("id AS k", "CAST(-2.0 AS DOUBLE) AS x", "'new' AS s"))
    SnapshotTable.mergeUpsert(spark, root, source, Seq("k"))
    val after = SnapshotTable.history(spark, root).last
    assert(after.action == "merge")
    val carried = after.dirs.toSet intersect before.files.map(_.path).toSet
    assert(carried.size == 6, s"six files contain no matched key and must carry by path: ${after.dirs}")
    val cur = SnapshotTable.read(spark, root)
    assert(cur.count() == 1005)
    assert(cur.filter("s = 'merged'").count() == 11)
    assert(cur.filter("s = 'new'").count() == 5)
    assert(ks(cur.filter("x = -1.0")) == (120L to 130L).toSet)
    assert(cur.filter("k = 121 AND s <> 'merged'").count() == 0, "matched rows replaced, not duplicated")
    assert(after.addedRows == 5, s"net delta = 5 inserts: ${after.addedRows}")
    // empty source is a no-op (no new version)
    val vNow = SnapshotTable.latestVersion(spark, root).get
    assert(SnapshotTable.mergeUpsert(spark, root, source.limit(0), Seq("k")) == vNow)
    assert(SnapshotTable.latestVersion(spark, root).get == vNow)
  }

  test("mergeUpsert: null-keyed source rows insert; schema evolves like append") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val source = Seq(
      (Some(2L), "b2", 0.5),
      (Option.empty[Long], "nullkey", 0.7)).toDF("k", "s", "score")
    SnapshotTable.mergeUpsert(spark, root, source, Seq("k"))
    val cur = SnapshotTable.read(spark, root)
    assert(cur.columns.toSeq == Seq("k", "s", "score"), "new source column widened the table")
    val byS = cur.collect().map(r => r.getString(1) -> Option(r.get(2))).toMap
    assert(byS == Map("a" -> None, "b2" -> Some(0.5), "nullkey" -> Some(0.7)))
    assert(cur.filter("s = 'b'").count() == 0, "matched key replaced")
    assert(cur.count() == 3)
  }

  test("changesBetween: appends are pure inserts, DML diffs row-level, compaction contributes nothing") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")) // v1
    SnapshotTable.append(spark, root, Seq((4L, "d")).toDF("k", "s")) // v2
    SnapshotTable.compact(spark, root, "k", nFiles = 1) // v3: data-identical
    SnapshotTable.deleteWhere(spark, root, Seq(Bound("k", Some(2L), Some(2L)))) // v4
    SnapshotTable.updateWhere(spark, root, Seq(Bound("k", Some(3L), Some(3L))), Map("s" -> lit("C"))) // v5
    SnapshotTable.mergeUpsert(spark, root, Seq((4L, "D"), (5L, "e")).toDF("k", "s"), Seq("k")) // v6
    val ch = SnapshotTable
      .changesBetween(spark, root, 1, 6)
      .select("k", "s", "_change_type", "_commit_version")
      .as[(Long, String, String, Int)]
      .collect()
      .toSet
    assert(ch == Set(
      (4L, "d", "insert", 2),
      // v3 compact: nothing
      (2L, "b", "delete", 4),
      (3L, "c", "delete", 5), (3L, "C", "insert", 5),
      (4L, "d", "delete", 6), (4L, "D", "insert", 6), (5L, "e", "insert", 6)
    ), s"unexpected change set: $ch")
    // a sub-range works too
    assert(SnapshotTable.changesBetween(spark, root, 4, 5).count() == 2)
    // empty range: schema-correct empty frame
    val empty = SnapshotTable.changesBetween(spark, root, 6, 6)
    assert(empty.count() == 0 && empty.columns.contains("_change_type"))
    // the CACHED batch path: first call materializes <root>/_cdc/r..., a
    // second call reuses the bytes (no recompute — same dir mtime), and
    // both return exactly the uncached diff
    val cached1 = SnapshotTable
      .changesBetweenCached(spark, root, 1, 6)
      .select("k", "s", "_change_type", "_commit_version")
      .as[(Long, String, String, Int)]
      .collect()
      .toSet
    assert(cached1 == ch, "cached CDC diverged from changesBetween")
    val cdcDir = new java.io.File(root, f"_cdc/r${1}%08d_${6}%08d")
    assert(cdcDir.isDirectory && new java.io.File(cdcDir, "_SUCCESS").exists)
    val mtime = cdcDir.lastModified
    val cached2 = SnapshotTable
      .changesBetweenCached(spark, root, 1, 6)
      .select("k", "s", "_change_type", "_commit_version")
      .as[(Long, String, String, Int)]
      .collect()
      .toSet
    assert(cached2 == ch && cdcDir.lastModified == mtime, "second call must reuse, not rebuild")
    // empty cached range: schema-correct empty frame off an empty feed dir
    assert(SnapshotTable.changesBetweenCached(spark, root, 6, 6).count() == 0)
  }

  test("upsertBatchExactlyOnce: replayed epochs are no-ops; each epoch's merge applies once") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val sink = SnapshotTable.streamUpsert(root, Seq("k"))
    sink(Seq((2L, "b2"), (3L, "c")).toDF("k", "s"), 0L)
    sink(Seq((3L, "c2")).toDF("k", "s"), 1L)
    sink(Seq((2L, "b2"), (3L, "c")).toDF("k", "s"), 0L) // restart replays epoch 0
    sink(Seq((3L, "c2")).toDF("k", "s"), 1L) // and epoch 1
    val state = SnapshotTable.read(spark, root).as[(Long, String)].collect().toMap
    assert(state == Map(1L -> "a", 2L -> "b2", 3L -> "c2"),
      s"replays must not re-apply or resurrect: $state")
    assert(SnapshotTable.history(spark, root).flatMap(_.batchId) == Seq(0L, 1L),
      "each epoch committed exactly once")
    // an already-committed epoch returns its original version, no new commit
    val vNow = SnapshotTable.latestVersion(spark, root).get
    assert(SnapshotTable.upsertBatchExactlyOnce(spark, root, Seq((9L, "x")).toDF("k", "s"), Seq("k"), 0L) == 2)
    assert(SnapshotTable.latestVersion(spark, root).get == vNow)
  }

  test("versionAsOf / readAsOf resolve by publish timestamp") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("k", "s"))
    val t1 = SnapshotTable.history(spark, root).last.ts
    assert(t1 > 0, "publish must record a timestamp")
    Thread.sleep(5)
    SnapshotTable.append(spark, root, Seq((2L, "b")).toDF("k", "s"))
    val t2 = SnapshotTable.history(spark, root).last.ts
    assert(t2 > t1)
    assert(SnapshotTable.versionAsOf(spark, root, t1) == 1)
    assert(SnapshotTable.readAsOf(spark, root, t1).count() == 1)
    assert(SnapshotTable.versionAsOf(spark, root, System.currentTimeMillis() + 1000) == 2)
    intercept[RuntimeException] { SnapshotTable.versionAsOf(spark, root, t1 - 1) }
  }

  test("updateWhere SET expressions all see the OLD row: a column swap swaps") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, Seq((1L, 10L, 20L), (2L, 30L, 40L)).toDF("k", "a", "b"))
    SnapshotTable.updateWhere(
      spark, root, Seq(Bound("k", Some(1L), Some(1L))),
      Map("a" -> col("b"), "b" -> col("a")))
    val rows = SnapshotTable.read(spark, root).as[(Long, Long, Long)].collect().toSet
    assert(rows == Set((1L, 20L, 10L), (2L, 30L, 40L)), s"swap must not see updated values: $rows")
  }

  test("rename swap-chains are refused; non-finite filter literals never crash the relation") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, Seq((1L, 1.5)).toDF("a", "x"))
    SnapshotTable.renameColumn(spark, root, "a", "tmp") // tmp freezes physical 'a'
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, root, "x", "a") // 'a' is tmp's frozen physical name
    }
    assert(ex.getMessage.contains("physical"), ex.getMessage)
    // NaN/Infinity comparison literals: conservative keep, no plan-time crash
    val df = SnapshotTable.relation(spark, root)
    assert(df.filter(col("x") < lit(Double.PositiveInfinity)).count() == 1)
    assert(df.filter(col("x") === lit(Double.NaN)).count() == 0)
  }

  test("renameColumn is metadata-only: reads, pruning, DML, appends, time travel under the new name") {
    val root = freshRoot()
    clustered(root) // (k, x, s) in 8 k-clustered files
    val dirsBefore = SnapshotTable.history(spark, root).last.dirs.toSet
    SnapshotTable.renameColumn(spark, root, "s", "label")
    // no data was written
    val m = SnapshotTable.history(spark, root).last
    assert(m.action == "schema" && m.dirs.toSet == dirsBefore, "rename must not touch data")
    val cur = SnapshotTable.read(spark, root)
    assert(cur.columns.toSeq == Seq("k", "x", "label"))
    assert(cur.filter("label = 's42'").count() == 1, "old values visible under the new name")
    // bounds in the NEW logical name hit the physically-keyed stats
    val eq = Seq(Bound("label", Some("s42"), Some("s42")))
    assert(SnapshotTable.readWhere(spark, root, eq).count() == 1)
    assert(SnapshotTable.countWhere(spark, root, eq) == 1)
    // DML through the renamed bound column
    SnapshotTable.deleteWhere(spark, root, Seq(Bound("k", Some(0L), Some(124L))))
    assert(SnapshotTable.read(spark, root).count() == 875)
    // appends write the LOGICAL name; the file lands under the PHYSICAL one
    SnapshotTable.append(
      spark,
      root,
      spark.range(2000, 2005).selectExpr("id AS k", "CAST(0.0 AS DOUBLE) AS x", "'fresh' AS label"))
    assert(SnapshotTable.read(spark, root).filter("label = 'fresh'").count() == 5)
    val newDir = SnapshotTable.history(spark, root).last.dirs
      .filterNot(SnapshotTable.history(spark, root).init.last.dirs.toSet)
    val rawCols = spark.read.parquet(newDir.map(d => s"$root/$d"): _*).columns.toSeq
    assert(rawCols.contains("s") && !rawCols.contains("label"),
      s"new files must carry the frozen physical name: $rawCols")
    // Catalyst relation + SQL under the new name, with pruning
    SnapshotTable.relation(spark, root).createOrReplaceTempView("renamed_snap")
    assert(spark.sql("SELECT count(*) AS n FROM renamed_snap WHERE label = 'fresh'").collect()(0).getLong(0) == 5)
    assert(spark.sql("SELECT count(*) AS n FROM renamed_snap WHERE k >= 900").collect()(0).getLong(0) == 105)
    // time travel: version 2 (pre-rename) still shows 's'
    assert(SnapshotTable.readVersion(spark, root, 2).columns.contains("s"))
    // re-adding a column named like the frozen physical name is refused
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.append(
        spark,
        root,
        spark.range(1).selectExpr("id AS k", "CAST(0.0 AS DOUBLE) AS x", "'a' AS label", "'boom' AS s"))
    }
    assert(ex.getMessage.contains("collision"), ex.getMessage)
  }

  test("dropColumn is metadata-only: bytes invisible immediately, old versions unaffected") {
    val root = freshRoot()
    clustered(root)
    val dirsBefore = SnapshotTable.history(spark, root).last.dirs.toSet
    SnapshotTable.dropColumn(spark, root, "x")
    val m = SnapshotTable.history(spark, root).last
    assert(m.action == "schema" && m.dirs.toSet == dirsBefore, "drop must not rewrite data")
    assert(SnapshotTable.read(spark, root).columns.toSeq == Seq("k", "s"))
    // appends without the dropped column; reads stay consistent
    SnapshotTable.append(spark, root, spark.range(5000, 5002).selectExpr("id AS k", "'n' AS s"))
    assert(SnapshotTable.read(spark, root).count() == 1002)
    // old version still carries the column
    assert(SnapshotTable.readVersion(spark, root, 2).columns.contains("x"))
    // a same-type revival reads the OLD bytes back (documented semantics)
    SnapshotTable.append(
      spark,
      root,
      spark.range(1).selectExpr("id + 9000 AS k", "'r' AS s", "CAST(1.5 AS DOUBLE) AS x"))
    val revived = SnapshotTable.read(spark, root)
    assert(revived.columns.contains("x"))
    assert(revived.filter("k = 42 AND x IS NOT NULL").count() == 1, "old bytes reappear under the revived column")
    // a constraint referencing the column blocks the drop
    SnapshotTable.addCheck(spark, root, "xnn", "x IS NOT NULL OR k >= 0")
    val ex = intercept[IllegalArgumentException] { SnapshotTable.dropColumn(spark, root, "x") }
    assert(ex.getMessage.contains("constraint"), ex.getMessage)
  }

  test("concurrent appends: racing writers all land via automatic retry, no rows lost") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = freshRoot()
    SnapshotTable.create(spark, root, Seq((0L, "base")).toDF("k", "s"))
    // appends commute: every racing writer must land (losers retry against
    // the new latest), and no committed rows may be lost or duplicated
    val writers = (1 to 6).map(i =>
      Future(SnapshotTable.append(spark, root, Seq((i.toLong, s"w$i")).toDF("k", "s"))))
    val versions = Await.result(Future.sequence(writers), 180.seconds)
    assert(versions.toSet.size == 6, s"every writer needs its own version: $versions")
    assert(SnapshotTable.latestVersion(spark, root).get == 7)
    val ks = SnapshotTable.read(spark, root).select("k").as[Long].collect().sorted.toSeq
    assert(ks == (0L to 6L), s"all rows exactly once: $ks")
    // a DML/compact publish race, by contrast, surfaces loudly — never a blind retry
    assert(SnapshotTable.history(spark, root).forall(c => c.action == "create" || c.action == "append"))
  }

  test("CHECK constraints: write-time enforcement, history validation, survival across rewrites") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    SnapshotTable.addCheck(spark, root, "pos", "k > 0")
    // a constraint the existing data violates is refused outright
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.addCheck(spark, root, "small", "k < 2")
    }
    // valid batch lands; violating batch aborts pre-publish, table untouched
    SnapshotTable.append(spark, root, Seq((3L, "c")).toDF("k", "s"))
    val vBefore = SnapshotTable.latestVersion(spark, root).get
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.append(spark, root, Seq((-1L, "bad")).toDF("k", "s"))
    }
    assert(SnapshotTable.latestVersion(spark, root).get == vBefore, "failed append must not commit")
    assert(SnapshotTable.read(spark, root).count() == 3)
    // a NULL check result is a violation (the row can't prove itself)
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.append(spark, root, Seq((Option.empty[Long], "n")).toDF("k", "s"))
    }
    // UPDATE that would break the check aborts, nothing published
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.updateWhere(
        spark, root, Seq(Bound("k", Some(3L), Some(3L))), Map("k" -> lit(-5L)))
    }
    assert(SnapshotTable.read(spark, root).filter("k < 0").count() == 0)
    // constraints are table properties: they survive overwrite AND compaction
    SnapshotTable.overwrite(spark, root, Seq((5L, "e")).toDF("k", "s"))
    SnapshotTable.compact(spark, root, "k", nFiles = 1)
    assert(SnapshotTable.history(spark, root).last.constraints.keySet == Set("pos"))
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.append(spark, root, Seq((-2L, "bad")).toDF("k", "s"))
    }
    // merge sources are gated too
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.mergeUpsert(spark, root, Seq((-3L, "bad")).toDF("k", "s"), Seq("k"))
    }
    // dropped: the same batch lands
    SnapshotTable.dropCheck(spark, root, "pos")
    SnapshotTable.append(spark, root, Seq((-1L, "ok now")).toDF("k", "s"))
    assert(SnapshotTable.read(spark, root).count() == 2)
  }

  test("vacuum minAgeMs: young unreferenced dirs are presumed in-flight and kept") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("k", "s"))
    // a writer mid-commit: data written, manifest not yet published
    Seq((99L, "inflight")).toDF("k", "s").write.parquet(s"$root/data/in-flight")
    val kept = SnapshotTable.vacuum(spark, root, keepLast = 1, minAgeMs = 3600 * 1000L)
    assert(!kept.exists(_.contains("in-flight")), s"young dir must survive an aged vacuum: $kept")
    assert(SnapshotTable.read(spark, root).count() == 1)
    val reclaimed = SnapshotTable.vacuum(spark, root, keepLast = 1)
    assert(reclaimed.contains("data/in-flight"), s"ageless vacuum reclaims it: $reclaimed")
  }

  test("historyDf: the commit log as a DataFrame") {
    val root = freshRoot()
    clustered(root)
    SnapshotTable.deleteWhere(spark, root, Seq(Bound("k", Some(0L), Some(124L))))
    val h = SnapshotTable.historyDf(spark, root)
    assert(h.columns.toSeq == Seq(
      "version", "action", "committed_at", "row_delta", "num_files", "total_rows", "live_rows",
      "total_bytes", "batch_id"))
    val rows = h.orderBy("version").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("create", "compact", "delete"))
    assert(rows.forall(r => !r.isNullAt(2)), "publish timestamps recorded")
    assert(rows.last.getLong(5) == 875, s"total_rows after delete: ${rows.last}")
    // row_delta is each commit's exact net delta: a data-identical
    // compact adds 0, so the deltas sum to the live total
    assert(rows.map(_.getLong(3)).sum == 875, s"row_delta per version: ${rows.map(_.getLong(3)).toSeq}")
    assert(rows.last.getLong(6) > 0, "byte footprint recorded")
  }

  test("vacuum after DML keeps partially-referenced dirs; a later compact releases them") {
    val root = freshRoot()
    clustered(root)
    SnapshotTable.deleteWhere(spark, root, Seq(Bound("k", Some(100L), Some(220L)))) // partial rewrite of 2 files
    // keepLast=1: only the delete version retained — but its untouched
    // files live inside the ORIGINAL compacted dir, which must survive
    val d1 = SnapshotTable.vacuum(spark, root, keepLast = 1)
    assert(SnapshotTable.read(spark, root).count() == 1000 - 121)
    assert(d1.count(_.startsWith("data/")) == 1, s"only the pre-compact create dir reclaimable: $d1")
    // compacting rewrites everything into one fresh dir; now the old dirs go
    SnapshotTable.compact(spark, root, "k", nFiles = 2)
    val d2 = SnapshotTable.vacuum(spark, root, keepLast = 1)
    assert(d2.count(_.startsWith("data/")) == 2, s"old clustered dir + delete-rewrite dir reclaimed: $d2")
    assert(SnapshotTable.read(spark, root).count() == 1000 - 121)
  }
}
