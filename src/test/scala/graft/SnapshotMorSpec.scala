package graft

import java.nio.file.Files

import graft.sinks.SnapshotTable
import graft.sinks.SnapshotTable.Bound
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Merge-on-read deletion masks: the DML mode whose WRITE cost is
  * O(change), never O(table) — predicate masks for range deletes,
  * key-tombstone masks for the scattered-key merges copy-on-write answers
  * with a full rewrite. Result algebra must be IDENTICAL to the COW
  * operators; the spec also pins the economics (file counts) and the
  * reconciliation/CDC/vacuum contracts. */
class SnapshotMorSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String = Files.createTempDirectory("graft-mor").toString

  /** 1000 rows, k 0..999, d cycles 10 months, price deterministic. */
  private def fixture(n: Int = 1000): DataFrame =
    spark.range(n.toLong).selectExpr(
      "id AS k",
      "add_months(DATE'1995-01-15', CAST(id % 10 AS INT)) AS d",
      "(id * 13) % 997 AS price_c")

  private def sortedRows(df: DataFrame) = df.orderBy("k").collect().toSeq

  test("exact MOR row accounting: every mask records its hidden rows; row_delta and live_rows are exact") {
    val root = freshRoot()
    SnapshotTable.create(
      spark, root, fixture().repartitionByRange(8, col("d")).sortWithinPartitions("d")) // v1
    def liveCount() = SnapshotTable.read(spark, root).count()
    def lastCommit() = SnapshotTable.history(spark, root).last
    def liveRowsCol() = SnapshotTable.historyDf(spark, root)
      .orderBy(col("version").desc).select("live_rows").head
    var before = liveCount()

    // pred mask (boundary files masked, interior whole-dropped)
    SnapshotTable.deleteWhereMor(spark, root, Seq(Bound("d", Some("1995-03-01"), Some("1995-06-30")))) // v2
    var after = liveCount()
    assert(lastCommit().addedRows == after - before, s"v2 delta ${lastCommit().addedRows} vs ${after - before}")
    assert(lastCommit().masks.forall(_.maskedRows.isDefined))
    assert(!liveRowsCol().isNullAt(0) && liveRowsCol().getLong(0) == after)
    before = after

    // mor-update: row-neutral, mask counts the updated originals exactly
    SnapshotTable.updateWhereMor(
      spark, root, Seq(Bound("k", Some(100L), Some(199L))),
      Map("price_c" -> (col("price_c") + 5))) // v3
    assert(liveCount() == before && lastCommit().addedRows == 0)
    assert(liveRowsCol().getLong(0) == before)

    // scattered-key mor-merge: inserts minus replaced, exactly
    SnapshotTable.mergeUpsertMor(
      spark, root,
      fixture(1200).filter("k % 11 = 0").withColumn("price_c", col("price_c") * 2),
      Seq("k")) // v4
    after = liveCount()
    assert(lastCommit().addedRows == after - before, s"v4 delta ${lastCommit().addedRows} vs ${after - before}")
    assert(liveRowsCol().getLong(0) == after)
    before = after

    // key-tombstone matched delete
    SnapshotTable.deleteMatchedMor(spark, root, fixture(400).filter("k % 7 = 0"), Seq("k")) // v5
    after = liveCount()
    assert(lastCommit().addedRows == after - before, s"v5 delta ${lastCommit().addedRows} vs ${after - before}")
    assert(liveRowsCol().getLong(0) == after)

    // countWhere stays exact through the stacked masks
    assert(SnapshotTable.countWhere(spark, root, Seq(Bound("k", Some(0L), Some(499L)))) ==
      SnapshotTable.read(spark, root).filter("k BETWEEN 0 AND 499").count())

    // a COW rewrite that satisfies part of a mask invalidates its stale
    // count instead of reporting a wrong live_rows
    SnapshotTable.deleteWhere(spark, root, Seq(Bound("k", Some(200L), Some(249L)))) // v6
    val masksNow = lastCommit().masks
    if (masksNow.exists(_.maskedRows.isEmpty)) assert(liveRowsCol().isNullAt(0))
    else assert(liveRowsCol().getLong(0) == liveCount())
  }

  test("mor-delete: zero data I/O, result identical to copy-on-write delete") {
    val mor = freshRoot()
    val cow = freshRoot()
    val src = fixture()
    // d-clustered so the 1995-03..1995-06 range has interior + boundary files
    def createClustered(root: String): Unit =
      SnapshotTable.create(
        spark, root, src.repartitionByRange(8, col("d")).sortWithinPartitions("d"))
    createClustered(mor); createClustered(cow)
    val bounds = Seq(Bound("d", Some("1995-03-01"), Some("1995-06-30")))
    val filesBefore = SnapshotTable.history(spark, mor).last.files.map(_.path).toSet

    SnapshotTable.deleteWhereMor(spark, mor, bounds)
    SnapshotTable.deleteWhere(spark, cow, bounds)

    assert(sortedRows(SnapshotTable.read(spark, mor)) == sortedRows(SnapshotTable.read(spark, cow)))
    val m = SnapshotTable.history(spark, mor).last
    // ZERO new data: every surviving file path existed before (no rewrite dir)
    assert(m.files.map(_.path).toSet.subsetOf(filesBefore), "mor-delete must write no data files")
    // the interior of the range is DROPPED wholly (fewer live files), the
    // boundary is masked
    assert(m.files.size < filesBefore.size, "wholly-matching interior files should drop")
    assert(m.masks.nonEmpty && m.masks.head.kind == "pred")
    assert(m.masks.head.entries.nonEmpty && m.masks.head.entries.size <= 3,
      s"only boundary files should be masked: ${m.masks.head.entries}")
    // bounded reads and counts stay exact over the masked table
    val probe = Seq(Bound("d", Some("1995-02-01"), Some("1995-07-31")))
    assert(
      SnapshotTable.readWhere(spark, mor, probe).count() ==
        SnapshotTable.readWhere(spark, cow, probe).count())
    assert(
      SnapshotTable.countWhere(spark, mor, probe) ==
        SnapshotTable.countWhere(spark, cow, probe))
    // time travel: v1 still reads the FULL pre-delete table
    assert(SnapshotTable.readVersion(spark, mor, 1).count() == 1000)
  }

  test("scattered-key mor-merge: no target file read or rewritten; result identical to COW merge") {
    val mor = freshRoot()
    val cow = freshRoot()
    val src = fixture()
    def createK(root: String): Unit =
      SnapshotTable.create(
        spark, root, src.repartitionByRange(8, col("k")).sortWithinPartitions("k"))
    createK(mor); createK(cow)
    // keys scattered across the WHOLE k range: COW's worst case
    val upsert = src
      .filter("k % 97 = 0")
      .withColumn("price_c", col("price_c") * 2)
      .unionByName(Seq((5000L, java.sql.Date.valueOf("1999-01-01"), 1L)).toDF("k", "d", "price_c"))
    val filesBefore = SnapshotTable.history(spark, mor).last.files.map(_.path).toSet

    SnapshotTable.mergeUpsertMor(spark, mor, upsert, Seq("k"))
    SnapshotTable.mergeUpsert(spark, cow, upsert, Seq("k"))

    assert(sortedRows(SnapshotTable.read(spark, mor)) == sortedRows(SnapshotTable.read(spark, cow)))
    val m = SnapshotTable.history(spark, mor).last
    // EVERY pre-merge file survives untouched — the verdict's 32/32
    // rewrite worst case becomes 0 rewrites
    assert(filesBefore.subsetOf(m.files.map(_.path).toSet),
      "mor-merge must not rewrite any target file")
    // exactly one new dir: the source (plus the sidecar, which is not a table entry)
    val newFiles = m.files.map(_.path).toSet -- filesBefore
    assert(newFiles.nonEmpty && newFiles.map(_.split('/').take(2).mkString("/")).size == 1)
    assert(m.masks.exists(mk => mk.kind == "keys" && mk.keyDir.isDefined))
    // COW comparison: the cow table rewrote many files (economics contrast)
    val cowM = SnapshotTable.history(spark, cow).last
    assert(!filesBefore.subsetOf(cowM.files.map(_.path).toSet),
      "COW merge of scattered keys rewrites target files (the contrast case)")
  }

  test("masks stack and compose: merge-on-read after merge-on-read after mor-delete") {
    val root = freshRoot()
    val src = fixture()
    SnapshotTable.create(
      spark, root, src.repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    SnapshotTable.deleteWhereMor(spark, root, Seq(Bound("k", Some(100L), Some(199L))))
    SnapshotTable.mergeUpsertMor(
      spark, root, src.filter("k % 50 = 0").withColumn("price_c", col("price_c") + 1), Seq("k"))
    SnapshotTable.mergeUpsertMor(
      spark, root, src.filter("k % 70 = 0").withColumn("price_c", col("price_c") + 2), Seq("k"))
    // oracle: replay the algebra in plain Spark
    val afterDelete = src.filter("k < 100 OR k > 199")
    val after1 = afterDelete.filter("k % 50 != 0")
      .unionByName(src.filter("k % 50 = 0").withColumn("price_c", col("price_c") + 1))
    val after2 = after1.filter("k % 70 != 0")
      .unionByName(src.filter("k % 70 = 0").withColumn("price_c", col("price_c") + 2))
    assert(sortedRows(SnapshotTable.read(spark, root)) == sortedRows(after2))
    // deleted k in [100,199] that are %50 or %70 keys came BACK via the
    // merges (source rows insert) — pin one: k=150
    assert(SnapshotTable.read(spark, root).filter("k = 150").count() == 1)
  }

  test("COW DML over a masked table never resurrects masked rows") {
    val root = freshRoot()
    val src = fixture()
    SnapshotTable.create(
      spark, root, src.repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    SnapshotTable.mergeUpsertMor(
      spark, root, src.filter("k % 10 = 0").withColumn("price_c", col("price_c") * 2), Seq("k"))
    // a COW update that rewrites masked files: masked rows must stay gone
    SnapshotTable.updateWhere(
      spark, root, Seq(Bound("k", Some(0L), Some(499L))),
      Map("price_c" -> (col("price_c") + 1000000)))
    val got = SnapshotTable.read(spark, root)
    assert(got.count() == 1000, "each key exactly once — no resurrections, no losses")
    // the doubled (merge-sourced) row for k=40 got the update too; only once
    assert(got.filter("k = 40").as[(Long, java.sql.Date, Long)].collect().map(_._3).toSeq ==
      Seq((40 * 13) % 997 * 2 + 1000000))
    // masks on the rewritten files were satisfied and cleared
    val m = SnapshotTable.history(spark, root).last
    val untouchedMasked = m.masks.flatMap(_.entries).toSet
    assert(untouchedMasked.forall(e => m.files.exists(_.path == e)),
      "surviving mask entries must reference live files only")
  }

  test("compaction reconciles: masks cleared, rows identical, sidecar vacuumable") {
    val root = freshRoot()
    val src = fixture()
    SnapshotTable.create(
      spark, root, src.repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    SnapshotTable.deleteWhereMor(spark, root, Seq(Bound("k", Some(100L), Some(149L))))
    SnapshotTable.mergeUpsertMor(
      spark, root, src.filter("k % 111 = 0").withColumn("price_c", col("price_c") + 7), Seq("k"))
    val before = sortedRows(SnapshotTable.read(spark, root))
    val sidecar = SnapshotTable.history(spark, root).last.masks.flatMap(_.keyDir)
    assert(sidecar.nonEmpty)
    SnapshotTable.compact(spark, root, "k", nFiles = 4)
    val m = SnapshotTable.history(spark, root).last
    assert(m.masks.isEmpty, "compaction must reconcile all masks")
    assert(sortedRows(SnapshotTable.read(spark, root)) == before, "reconciliation is data-identical")
    // with masks retained in history, vacuum keeps the sidecar; once the
    // masked versions age out, the sidecar is reclaimed
    val deletedKeep = SnapshotTable.vacuum(spark, root, keepLast = 4)
    assert(!deletedKeep.exists(d => sidecar.exists(_.startsWith(d))), s"sidecar still referenced: $deletedKeep")
    val deleted = SnapshotTable.vacuum(spark, root, keepLast = 1)
    assert(sidecar.forall(s => deleted.contains(s.split('/').take(2).mkString("/"))),
      s"unreferenced sidecar must vacuum away: $deleted vs $sidecar")
    assert(sortedRows(SnapshotTable.read(spark, root)) == before)
  }

  test("CDC over merge-on-read commits: mask deltas surface as row-level deletes") {
    val root = freshRoot()
    val src = fixture()
    SnapshotTable.create(
      spark, root, src.repartitionByRange(4, col("d")).sortWithinPartitions("d")) // v1
    SnapshotTable.mergeUpsertMor(
      spark, root, src.filter("k % 31 = 0").withColumn("price_c", col("price_c") * 2), Seq("k")) // v2
    SnapshotTable.deleteWhereMor(
      spark, root, Seq(Bound("d", Some("1995-03-01"), Some("1995-06-30")))) // v3
    val ch = SnapshotTable.changesBetween(spark, root, 1, 3)
      .groupBy("_commit_version", "_change_type")
      .count()
      .as[(Int, String, Long)]
      .collect()
      .map(t => (t._1, t._2) -> t._3)
      .toMap
    val nKeys = src.filter("k % 31 = 0").count()
    assert(ch((2, "insert")) == nKeys, s"v2 inserts = source rows: $ch")
    assert(ch((2, "delete")) == nKeys, s"v2 deletes = matched target rows: $ch")
    // v3 deletes every live row in the range: originals minus matched
    // k%31 rows plus their doubled replacements = same count
    val inRange = src.filter("d >= DATE'1995-03-01' AND d <= DATE'1995-06-30'").count()
    assert(ch((3, "delete")) == inRange, s"v3 deletes the whole range: $ch")
    assert(!ch.contains((3, "insert")))
    // round-trip: v1 rows + all changes = v3 rows (apply deletes/inserts)
    val net = ch.toSeq.map { case ((_, op), n) => if (op == "insert") n else -n }.sum
    assert(SnapshotTable.readVersion(spark, root, 3).count() == 1000 + net)
  }

  test("mor-update: only updated rows written, zero file rewrites, identical to COW update") {
    val mor = freshRoot()
    val cow = freshRoot()
    val src = fixture()
    def createD(root: String): Unit =
      SnapshotTable.create(
        spark, root, src.repartitionByRange(8, col("d")).sortWithinPartitions("d"))
    createD(mor); createD(cow)
    val bounds = Seq(Bound("d", Some("1995-03-01"), Some("1995-06-30")))
    val set = Map("price_c" -> (col("price_c") + 1000000))
    val filesBefore = SnapshotTable.history(spark, mor).last.files.map(_.path).toSet
    SnapshotTable.updateWhereMor(spark, mor, bounds, set)
    SnapshotTable.updateWhere(spark, cow, bounds, set)
    assert(sortedRows(SnapshotTable.read(spark, mor)) == sortedRows(SnapshotTable.read(spark, cow)))
    val m = SnapshotTable.history(spark, mor).last
    assert(m.action == "mor-update")
    // exactly one new dir (the updated rows); interior wholly-matching
    // files dropped; boundary files masked, NOT rewritten
    val newDirs = (m.files.map(_.path).toSet -- filesBefore).map(p => p.split('/').take(2).mkString("/"))
    assert(newDirs.size == 1, s"one updated-rows dir expected: $newDirs")
    assert(m.files.map(_.path).toSet.intersect(filesBefore).nonEmpty)
    assert(m.masks.exists(_.kind == "pred"))
    // the new dir holds ONLY the matched rows
    val updatedRows = src.filter("d >= DATE'1995-03-01' AND d <= DATE'1995-06-30'").count()
    val newRel = newDirs.head
    assert(m.files.filter(_.path.startsWith(newRel)).map(_.rows).sum == updatedRows)
    // CDC: the mor-update surfaces as its delete+insert pair
    val ch = SnapshotTable.changesBetween(spark, mor, 1, 2)
      .groupBy("_change_type").count().as[(String, Long)].collect().toMap
    assert(ch("delete") == updatedRows && ch("insert") == updatedRows, s"$ch")
    // a second update over an overlapping range composes through the mask
    SnapshotTable.updateWhereMor(spark, mor, Seq(Bound("d", Some("1995-05-01"), Some("1995-08-31"))),
      Map("price_c" -> (col("price_c") + 1)))
    SnapshotTable.updateWhere(spark, cow, Seq(Bound("d", Some("1995-05-01"), Some("1995-08-31"))),
      Map("price_c" -> (col("price_c") + 1)))
    assert(sortedRows(SnapshotTable.read(spark, mor)) == sortedRows(SnapshotTable.read(spark, cow)))
  }

  test("CDC distinguishes two mor-deletes with IDENTICAL bounds (mask identity is the id)") {
    val root = freshRoot()
    val src = fixture(400)
    SnapshotTable.create(
      spark, root, src.repartitionByRange(4, col("d")).sortWithinPartitions("d")) // v1
    val bounds = Seq(Bound("d", Some("1995-02-01"), Some("1995-03-31")))
    SnapshotTable.deleteWhereMor(spark, root, bounds) // v2
    // new rows land IN the same range, then the SAME-bounds delete repeats
    SnapshotTable.append(
      spark, root,
      src.filter("d >= DATE'1995-02-01' AND d <= DATE'1995-03-31'")
        .selectExpr("k + 10000 AS k", "d", "price_c")) // v3
    SnapshotTable.deleteWhereMor(spark, root, bounds) // v4: identical predBounds to v2's mask
    assert(SnapshotTable.read(spark, root)
      .filter("d >= DATE'1995-02-01' AND d <= DATE'1995-03-31'").count() == 0)
    val ch = SnapshotTable.changesBetween(spark, root, 1, 4)
      .groupBy("_commit_version", "_change_type").count()
      .as[(Int, String, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val inRange = src.filter("d >= DATE'1995-02-01' AND d <= DATE'1995-03-31'").count()
    assert(ch((2, "delete")) == inRange, s"$ch")
    assert(ch((3, "insert")) == inRange, s"$ch")
    // v4's delete must NOT be swallowed by v2's structurally-identical mask
    assert(ch.get((4, "delete")).contains(inRange), s"repeated same-bounds mor-delete lost in CDC: $ch")
  }

  test("append carries masks; schema DDL refuses while masks pend; relation stays exact") {
    val root = freshRoot()
    val src = fixture()
    SnapshotTable.create(
      spark, root, src.repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    SnapshotTable.deleteWhereMor(spark, root, Seq(Bound("k", Some(10L), Some(59L))))
    SnapshotTable.append(spark, root, Seq((2000L, java.sql.Date.valueOf("1999-01-01"), 5L)).toDF("k", "d", "price_c"))
    val m = SnapshotTable.history(spark, root).last
    assert(m.masks.nonEmpty, "appends must carry pending masks")
    assert(SnapshotTable.read(spark, root).filter("k >= 10 AND k <= 59").count() == 0)
    assert(SnapshotTable.read(spark, root).count() == 1000 - 50 + 1)
    // the Catalyst relation applies masks too (union plan) and stays exact
    assert(
      SnapshotTable.relation(spark, root).orderBy("k").collect().toSeq ==
        SnapshotTable.read(spark, root).orderBy("k").collect().toSeq)
    // and filters over it still return masked-consistent results
    assert(SnapshotTable.relation(spark, root).filter("k <= 100").count() ==
      SnapshotTable.read(spark, root).filter("k <= 100").count())
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, root, "price_c", "amount_c")
    }
    assert(e.getMessage.contains("merge-on-read"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, root, "price_c")
    }
    assert(e2.getMessage.contains("merge-on-read"), e2.getMessage)
  }

  test("keys-mask read plans a BROADCAST anti-join on the sidecar, never sort-merge") {
    // the mask anti-join is the read amplification merge-on-read trades
    // for its O(change) writes — at 100 TB a source-sized sidecar must
    // broadcast, not shuffle the masked terabytes
    val root = freshRoot()
    val src = fixture()
    SnapshotTable.create(
      spark, root, src.repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    SnapshotTable.mergeUpsertMor(
      spark, root, src.filter("k % 97 = 0").withColumn("price_c", col("price_c") + 1), Seq("k"))
    val df = SnapshotTable.read(spark, root)
    df.count() // settle AQE so the executed plan is the real one
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"mask anti-join must broadcast the sidecar:\n$p")
    assert(!p.contains("SortMergeJoin"), s"masked read must not shuffle the table:\n$p")
  }

  test("exactly-once streaming MOR upsert: replayed epochs are no-ops, masks apply once") {
    val root = freshRoot()
    val src = fixture(200)
    SnapshotTable.create(
      spark, root, src.repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    val epoch = src.filter("k % 9 = 0").withColumn("price_c", col("price_c") + 77)
    val v1 = SnapshotTable.upsertBatchExactlyOnceMor(spark, root, epoch, Seq("k"), batchId = 7L)
    // a replayed epoch (same batchId) must be a NO-OP — same version, no
    // second mask, no duplicate source rows
    val v2 = SnapshotTable.upsertBatchExactlyOnceMor(spark, root, epoch, Seq("k"), batchId = 7L)
    assert(v1 == v2)
    assert(SnapshotTable.history(spark, root).size == 2)
    val got = SnapshotTable.read(spark, root)
    assert(got.count() == 200, "each key exactly once after the replay")
    assert(got.filter("k % 9 = 0 AND price_c = (k * 13) % 997 + 77").count() == epoch.count())
    // the next epoch applies once on top
    SnapshotTable.upsertBatchExactlyOnceMor(
      spark, root, epoch.withColumn("price_c", col("price_c") + 1), Seq("k"), batchId = 8L)
    assert(SnapshotTable.read(spark, root).count() == 200)
  }

  test("deleteMatchedMor evaluates its source once: the keys it prunes with are the keys it masks") {
    import org.apache.spark.sql.functions.udf
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture().repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    val calls = spark.sparkContext.longAccumulator("deleteMatchedMor source key calls")
    val key = udf { (k: Long) => calls.add(1); k }.asNondeterministic()
    val src = spark.range(0, 1000, 35).select(key(col("id")).as("k")) // 29 keys
    SnapshotTable.deleteMatchedMor(spark, root, src, Seq("k"))
    assert(calls.value == 29L, "the source key was evaluated more than once per row")
    val got = SnapshotTable.read(spark, root)
    val masked = (0L until 1000L).toSet -- got.select("k").as[Long].collect().toSet
    assert(masked == (0L until 1000L by 35).toSet)
    assert(SnapshotTable.history(spark, root).last.masks.exists(_.kind == "keys"))
  }

  test("mor DML racing concurrent appends: lost publishes surface loudly, retries stay exact") {
    val root = freshRoot()
    val src = fixture()
    SnapshotTable.create(
      spark, root, src.repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    // 3 appenders (disjoint key ranges outside the delete bounds) race one
    // merge-on-read deleter that retries on ConcurrentCommitException —
    // the same re-derive contract as copy-on-write DML
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appenders = (1 to 3).map { i =>
      new Thread(() =>
        try SnapshotTable.append(
          spark, root,
          src.filter(s"k < 50").selectExpr(s"k + ${10000 * i} AS k", "d", "price_c"))
        catch { case t: Throwable => errors.add(t) })
    }
    val deleter = new Thread(() =>
      try {
        var done = false
        var attempts = 0
        while (!done && attempts < 20) {
          try {
            SnapshotTable.deleteWhereMor(spark, root, Seq(Bound("k", Some(100L), Some(199L))))
            done = true
          } catch {
            case _: SnapshotTable.ConcurrentCommitException => attempts += 1 // re-derive from latest
          }
        }
        if (!done) errors.add(new RuntimeException("mor-delete never won a publish"))
      } catch { case t: Throwable => errors.add(t) })
    (appenders :+ deleter).foreach(_.start())
    (appenders :+ deleter).foreach(_.join(120000))
    assert(errors.isEmpty, s"unexpected failures: ${errors.toArray.mkString(", ")}")
    val got = SnapshotTable.read(spark, root)
    // every appended row present exactly once; the deleted range gone;
    // nothing else lost — whatever the interleaving
    assert(got.count() == (1000 - 100) + 3 * 50, s"row accounting broke: ${got.count()}")
    assert(got.filter("k >= 100 AND k <= 199").count() == 0)
    assert(got.filter("k >= 10000").count() == 150)
    val h = SnapshotTable.history(spark, root)
    assert(h.count(_.action == "mor-delete") == 1, h.map(_.action))
    assert(h.count(_.action == "append") == 3, h.map(_.action))
    // surviving mask entries reference live files only
    val m = h.last
    val live = m.files.map(_.path).toSet ++ m.dirs
    assert(m.masks.flatMap(_.entries).forall(live), "mask entries must reference live entries")
  }

  test("masked files keep plan-time skipping through the Catalyst relation") {
    val root = freshRoot()
    SnapshotTable.create(
      spark, root, fixture().repartitionByRange(8, col("k")).sortWithinPartitions("k"))
    // k-clustered 8 files of 125 keys; 100..160 straddles files 0 and 1 →
    // both gain a pred mask, nothing drops wholly
    SnapshotTable.deleteWhereMor(spark, root, Seq(Bound("k", Some(100L), Some(160L))))
    val m = SnapshotTable.history(spark, root).last
    assert(m.masks.nonEmpty && m.masks.head.entries.size == 2, m.masks)
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val plan = df.queryExecution.executedPlan
      val scans =
        plan.collect { case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan }
          .flatMap(_.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }) ++
          plan.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      assert(scans.nonEmpty, s"no FileSourceScanExec in:\n$plan")
      scans.map(_.metrics("numFiles").value).sum
    }
    val df = SnapshotTable.relation(spark, root)
    // narrow filter: [140,180] lives in masked file 1 only — the masked
    // BRANCH must prune file 0 at plan time (masks only remove rows, so
    // stats-dead stays dead) and the unmasked branch prunes files 2..7
    val q = df.filter("k >= 140 AND k <= 180")
    assert(scannedFiles(q) <= 2, "masked-file skipping gap: masked branch reads all masked files")
    // result identity with the bounded read surface
    assert(
      q.orderBy("k").collect().toSeq ==
        SnapshotTable
          .readWhere(spark, root, Seq(Bound("k", Some(140L), Some(180L))))
          .orderBy("k")
          .collect()
          .toSeq)
    // a filter entirely OUTSIDE the masked files reads zero masked files
    assert(scannedFiles(df.filter("k >= 500 AND k <= 560")) <= 1)
  }

  test("a fully-masked table (scattered-predicate mask) still prunes on the clustered key") {
    val root = freshRoot()
    SnapshotTable.create(
      spark, root, fixture().repartitionByRange(8, col("k")).sortWithinPartitions("k"))
    // price_c = (k*13) % 997 is scattered: EVERY k-clustered file is a
    // boundary file for a price range → all 8 gain the pred mask, none
    // drops — the worst case for the old all-masked-files-scan gap
    SnapshotTable.deleteWhereMor(spark, root, Seq(Bound("price_c", Some(100L), Some(110L))))
    val m = SnapshotTable.history(spark, root).last
    assert(m.masks.head.entries.size == m.files.size, "scattered predicate must mask every file")
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val plan = df.queryExecution.executedPlan
      val scans =
        plan.collect { case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan }
          .flatMap(_.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }) ++
          plan.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      scans.map(_.metrics("numFiles").value).sum
    }
    val df = SnapshotTable.relation(spark, root)
    val q = df.filter("k >= 300 AND k <= 310")
    assert(scannedFiles(q) <= 2, s"k-stats must prune the masked group: ${scannedFiles(q)} of 8")
    assert(
      q.orderBy("k").collect().toSeq ==
        SnapshotTable
          .readWhere(spark, root, Seq(Bound("k", Some(300L), Some(310L))))
          .orderBy("k")
          .collect()
          .toSeq)
    assert(q.count() == fixture().filter(
      "k >= 300 AND k <= 310 AND NOT (price_c >= 100 AND price_c <= 110)").count())
  }

  test("mergeInto racing concurrent appends: lost publishes surface loudly, retries stay exact") {
    val root = freshRoot()
    SnapshotTable.create(
      spark, root, fixture().repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    // 3 appenders (keys far outside every clause's reach) race one
    // conditional merge that retries on ConcurrentCommitException by
    // RE-DERIVING from latest — the same contract as COW DML: a stale
    // rewrite set could drop a racing appender's rows, so mergeInto must
    // surface the race, never blind-retry
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appenders = (1 to 3).map { i =>
      new Thread(() =>
        try SnapshotTable.append(
          spark, root,
          fixture().filter("k < 50").selectExpr(s"k + ${100000 * i} AS k", "d", "price_c"))
        catch { case t: Throwable => errors.add(t) })
    }
    val merger = new Thread(() =>
      try {
        var done = false
        var attempts = 0
        while (!done && attempts < 20) {
          try {
            SnapshotTable.mergeInto(
              spark, root,
              fixture().filter("k % 10 = 0").withColumn("price_c", org.apache.spark.sql.functions.lit(1L)),
              Seq("k"),
              matched = Seq(
                SnapshotTable.MatchedUpdate(Some("t.k < 500"), Some(Map("price_c" -> "s.price_c"))),
                SnapshotTable.MatchedDelete(None)),
              notMatched = Seq.empty)
            done = true
          } catch {
            case _: SnapshotTable.ConcurrentCommitException => attempts += 1 // re-derive from latest
          }
        }
        if (!done) errors.add(new RuntimeException("mergeInto never won a publish"))
      } catch { case t: Throwable => errors.add(t) })
    (appenders :+ merger).foreach(_.start())
    (appenders :+ merger).foreach(_.join(120000))
    assert(errors.isEmpty, s"unexpected failures: ${errors.toArray.mkString(", ")}")
    val got = SnapshotTable.read(spark, root)
    // clause algebra: k%10=0 ∧ k<500 updated to 1; k%10=0 ∧ k>=500 deleted;
    // appended rows (k >= 100000) can never match — the source holds only
    // keys k%10=0 within 0..999 — so each is present exactly once
    assert(got.filter("k < 1000 AND k % 10 = 0 AND k < 500 AND price_c != 1").count() == 0)
    assert(got.filter("k < 1000 AND k % 10 = 0 AND k >= 500").count() == 0, "matched fallthrough deleted")
    assert(got.filter("k >= 100000").count() == 3 * 50, "no appended row lost to the race")
    assert(got.count() == (1000 - 50) + 150, s"row accounting broke: ${got.count()}")
    val h = SnapshotTable.history(spark, root)
    assert(h.count(_.action == "merge") == 1, h.map(_.action))
    assert(h.count(_.action == "append") == 3, h.map(_.action))
  }

  test("insert-only mergeInto carries dir-entry masks verbatim (no resurrection)") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(200))
    // graft a stat-less LEGACY dir (pre-stats manifests: dirs entry with
    // no files coverage) holding rows 5000..5049
    val legacy = spark.range(5000, 5050).selectExpr(
      "id AS k", "DATE'1995-01-15' AS d", "id AS price_c")
    legacy.write.parquet(root + "/data/legacy")
    val m1 = SnapshotTable.history(spark, root).last
    SnapshotTable.publish(spark, root, m1.copy(
      version = m1.version + 1, action = "append", dirs = m1.dirs :+ "data/legacy",
      addedRows = 50L, ts = 0L))
    assert(SnapshotTable.read(spark, root).count() == 250)
    // mor-delete a range living ONLY in the legacy dir: the mask's entry
    // list includes the stat-less dir entry
    SnapshotTable.deleteWhereMor(spark, root, Seq(Bound("k", Some(5000L), Some(5019L))))
    val masked = SnapshotTable.history(spark, root).last
    assert(masked.masks.exists(_.entries.contains("data/legacy")), masked.masks)
    assert(SnapshotTable.read(spark, root).count() == 230)
    // INSERT-ONLY merge (no matched clauses → no rewrite): the mask must
    // carry VERBATIM — dropping the dir entry would resurrect the 20 rows
    val src = spark.range(9000, 9010).selectExpr(
      "id AS k", "DATE'2001-01-01' AS d", "CAST(0 AS LONG) AS price_c")
    SnapshotTable.mergeInto(
      spark, root, src, Seq("k"),
      matched = Seq.empty,
      notMatched = Seq(SnapshotTable.NotMatchedInsert(None, None)))
    val after = SnapshotTable.history(spark, root).last
    assert(after.masks.exists(_.entries.contains("data/legacy")),
      s"insert-only merge dropped the dir-entry mask: ${after.masks}")
    assert(SnapshotTable.read(spark, root).count() == 240, "230 visible + 10 inserts; masked rows stay dead")
    assert(SnapshotTable.read(spark, root).filter("k >= 5000 AND k <= 5019").count() == 0,
      "masked legacy rows must stay deleted after an insert-only merge")
  }

  test("exact equality mor-delete via bloom-capable bounds; null bound columns survive") {
    val root = freshRoot()
    val withNulls = spark.range(100).selectExpr(
      "id AS k",
      "CASE WHEN id % 10 = 0 THEN NULL ELSE CAST(id % 7 AS LONG) END AS grp")
    SnapshotTable.create(spark, root, withNulls.repartition(4))
    SnapshotTable.deleteWhereMor(spark, root, Seq(Bound("grp", Some(3L), Some(3L))))
    val got = SnapshotTable.read(spark, root)
    // rows with NULL grp never match a range predicate: all 10 survive
    assert(got.filter("grp IS NULL").count() == 10)
    assert(got.filter("grp = 3").count() == 0)
    assert(got.count() == withNulls.filter("grp IS NULL OR grp != 3").count())
  }
}
