package graft

import java.nio.file.Files

import graft.sinks.SnapshotTable
import graft.sinks.SnapshotTable.Bound
import org.apache.spark.sql.DataFrame

/** Branches, tags, and write-audit-publish (SURVEY §2.J `cap_table_branch`
  * / `cap_table_tag`): a branch is a zero-copy private manifest log forked
  * from a main version — every operator accepts the ref-qualified handle
  * ([[SnapshotTable.branchRef]]) and runs in isolation over the SHARED
  * immutable data files; [[SnapshotTable.fastForward]] publishes the
  * branch back through the CommitStore's put-if-absent, so concurrent
  * main writers lose loudly, never silently. Tags pin main versions by
  * name against vacuum — the audit/rollback anchor. */
class SnapshotBranchSpec extends SparkSuite {

  private def freshRoot(): String = Files.createTempDirectory("graft-branch").toString

  private def fixture(from: Int, n: Int): DataFrame =
    spark.range(from.toLong, (from + n).toLong).selectExpr(
      "id AS k",
      "add_months(DATE'1995-01-15', CAST(id % 10 AS INT)) AS d",
      "(id * 13) % 997 AS price_c")

  private def rows(df: DataFrame) = df.orderBy("k").collect().toSeq

  test("branch writes are isolated; pre-fork history resolves main manifests in place") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 100)) // v1
    SnapshotTable.append(spark, root, fixture(100, 50)) // v2
    val dev = SnapshotTable.createBranch(spark, root, "dev")
    assert(dev == root + "#branch=dev")
    assert(SnapshotTable.branches(spark, root) == Seq("dev" -> 2))

    val mainBefore = rows(SnapshotTable.read(spark, root))
    SnapshotTable.append(spark, dev, fixture(150, 25)) // branch v3
    SnapshotTable.deleteWhere(spark, dev, Seq(Bound("k", Some(0L), Some(9L)))) // branch v4

    // main is untouched by branch commits
    assert(SnapshotTable.latestVersion(spark, root).contains(2))
    assert(rows(SnapshotTable.read(spark, root)) == mainBefore)
    // the branch sees fork state + its own commits
    assert(SnapshotTable.latestVersion(spark, dev).contains(4))
    assert(SnapshotTable.read(spark, dev).count() == 100 + 50 + 25 - 10)
    // pre-fork time travel on the BRANCH handle reads main's manifests
    assert(rows(SnapshotTable.readVersion(spark, dev, 1)) == rows(SnapshotTable.readVersion(spark, root, 1)))
    // branch history = shared prefix + local commits, one lineage
    assert(SnapshotTable.versions(spark, dev) == Seq(1, 2, 3, 4))
  }

  test("fast-forward publishes the branch verbatim; a diverged main refuses") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 100))
    val dev = SnapshotTable.createBranch(spark, root, "dev")
    SnapshotTable.append(spark, dev, fixture(100, 30))
    SnapshotTable.deleteWhere(spark, dev, Seq(Bound("k", Some(0L), Some(4L))))

    val published = SnapshotTable.fastForward(spark, root, "dev")
    assert(published == 3 && SnapshotTable.latestVersion(spark, root).contains(3))
    assert(rows(SnapshotTable.read(spark, root)) == rows(SnapshotTable.read(spark, dev)))
    // manifests are byte-identical: a re-run fast-forward is a no-op resume
    assert(SnapshotTable.fastForward(spark, root, "dev") == 3)
    SnapshotTable.dropBranch(spark, root, "dev")

    // divergence: branch forks, then MAIN advances independently
    val hot = SnapshotTable.createBranch(spark, root, "hotfix")
    SnapshotTable.append(spark, hot, fixture(200, 10))
    SnapshotTable.append(spark, root, fixture(300, 10))
    val e = intercept[Exception](SnapshotTable.fastForward(spark, root, "hotfix"))
    assert(e.getMessage.contains("diverges") || e.getMessage.contains("advanced past"))
  }

  test("write-audit-publish: bad batch stays quarantined on the branch, good batch lands atomically") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 100))
    val audit = SnapshotTable.createBranch(spark, root, "audit")
    // stage: a batch with rows a quality gate must reject (price_c on the
    // staged slice is deterministic; audit = any predicate over the branch)
    SnapshotTable.append(spark, audit, fixture(100, 20))
    val bad = SnapshotTable.read(spark, audit).filter("k >= 100 AND price_c < 0").count()
    assert(bad == 0L) // gate passes -> publish
    SnapshotTable.fastForward(spark, root, "audit")
    assert(SnapshotTable.read(spark, root).count() == 120)
    // main readers never saw an intermediate state: version count tells
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2))
  }

  test("merge-on-read masks ride the branch and survive fast-forward") {
    val root = freshRoot()
    SnapshotTable.create(
      spark, root,
      fixture(0, 1000).repartitionByRange(8, org.apache.spark.sql.functions.col("d"))
        .sortWithinPartitions("d"))
    val dev = SnapshotTable.createBranch(spark, root, "dev")
    SnapshotTable.deleteWhereMor(spark, dev, Seq(Bound("d", Some("1995-03-01"), Some("1995-06-30"))))
    val expect = rows(SnapshotTable.read(spark, dev))
    // the mask is branch-private
    assert(SnapshotTable.history(spark, root).last.masks.isEmpty)
    SnapshotTable.fastForward(spark, root, "dev")
    assert(SnapshotTable.history(spark, root).last.masks.nonEmpty)
    assert(rows(SnapshotTable.read(spark, root)) == expect)
  }

  test("branch CDC crosses the fork and its feed cache never collides with main's") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 50)) // v1
    val dev = SnapshotTable.createBranch(spark, root, "dev")
    SnapshotTable.append(spark, dev, fixture(50, 20)) // branch v2
    SnapshotTable.append(spark, root, fixture(900, 5)) // main v2, diverged
    val devChanges = SnapshotTable.changesBetweenCached(spark, dev, 0, 2)
    val mainChanges = SnapshotTable.changesBetweenCached(spark, root, 0, 2)
    assert(devChanges.count() == 70 && mainChanges.count() == 55)
    // cached re-read returns the same (ref-namespaced dirs, no cross-talk)
    assert(SnapshotTable.changesBetweenCached(spark, dev, 0, 2).count() == 70)
    assert(SnapshotTable.changesBetweenCached(spark, root, 0, 2).count() == 55)
  }

  test("tags pin versions against vacuum; branches pin their fork") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 50)) // v1
    SnapshotTable.append(spark, root, fixture(50, 50)) // v2
    SnapshotTable.createTag(spark, root, "golden", Some(1))
    assert(SnapshotTable.tags(spark, root) == Seq("golden" -> 1))
    assert(intercept[Exception](SnapshotTable.createTag(spark, root, "golden"))
      .getMessage.contains("already exists"))
    val keep2 = SnapshotTable.createBranch(spark, root, "pin2", Some(2))
    SnapshotTable.overwrite(spark, root, fixture(0, 10)) // v3 replaces everything
    SnapshotTable.vacuum(spark, root, keepLast = 1)
    // v1 (tagged) and v2 (branch fork) survive a keepLast=1 vacuum
    assert(SnapshotTable.readVersion(spark, root, SnapshotTable.tagVersion(spark, root, "golden")).count() == 50)
    assert(SnapshotTable.read(spark, keep2).count() == 100)
    // untag + drop, then vacuum reclaims both pinned versions
    SnapshotTable.dropTag(spark, root, "golden")
    SnapshotTable.dropBranch(spark, root, "pin2")
    SnapshotTable.vacuum(spark, root, keepLast = 1)
    assert(SnapshotTable.versions(spark, root) == Seq(3))
    assert(intercept[Exception](SnapshotTable.readVersion(spark, root, 1)).getMessage.nonEmpty)
    // a branch handle refuses vacuum outright
    val b = SnapshotTable.createBranch(spark, root, "x")
    assert(intercept[Exception](SnapshotTable.vacuum(spark, b, 1)).getMessage.contains("table root"))
  }

  test("vacuum reclaims a dropped branch's private data dirs but never shared ones") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 50))
    val dev = SnapshotTable.createBranch(spark, root, "dev")
    SnapshotTable.append(spark, dev, fixture(50, 20)) // branch-private dir
    val devDirs = SnapshotTable.history(spark, dev).last.dirs.toSet
    val mainDirs = SnapshotTable.history(spark, root).last.dirs.toSet
    val privateDirs = devDirs -- mainDirs
    assert(privateDirs.nonEmpty)
    // while the branch lives, vacuum keeps its private dirs
    val kept = SnapshotTable.vacuum(spark, root, keepLast = 10)
    assert(!kept.exists(d => privateDirs.exists(d.startsWith)))
    assert(SnapshotTable.read(spark, dev).count() == 70)
    SnapshotTable.dropBranch(spark, root, "dev")
    val deleted = SnapshotTable.vacuum(spark, root, keepLast = 10)
    assert(privateDirs.forall(p => deleted.exists(_.startsWith(p))), s"expected $privateDirs in $deleted")
    assert(SnapshotTable.read(spark, root).count() == 50) // main intact
  }

  test("DataSource options: branch read/write and tag time travel") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 40))
    SnapshotTable.createBranch(spark, root, "dev")
    SnapshotTable.createTag(spark, root, "t1")

    // write via format onto the branch
    fixture(40, 10).write.format("snapshot-table")
      .mode("append").option("branch", "dev").save(root)
    assert(SnapshotTable.read(spark, root).count() == 40)
    val viaFormat = spark.read.format("snapshot-table").option("branch", "dev").load(root)
    assert(viaFormat.count() == 50)
    // tag resolves as time travel (main stays at 40 rows under the tag)
    SnapshotTable.append(spark, root, fixture(900, 3))
    val tagged = spark.read.format("snapshot-table").option("tag", "t1").load(root)
    assert(tagged.count() == 40)
    assert(intercept[Exception](
      spark.read.format("snapshot-table").option("tag", "t1").option("versionAsOf", "1").load(root))
      .getMessage.contains("at most one"))
    // a tag pins a MAIN version; resolving it against a branch's private
    // log would silently read the branch's same-numbered snapshot
    assert(intercept[Exception](
      spark.read.format("snapshot-table").option("branch", "dev").option("tag", "t1").load(root))
      .getMessage.contains("MAIN"))
  }

  test("VACUUM DRY RUN reports exactly the real sweep's list and deletes nothing") {
    import graft.sinks.SnapshotSql
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 50)) // v1
    SnapshotTable.overwrite(spark, root, fixture(50, 30)) // v2: v1's dir unreferenced
    SnapshotTable.checkpoint(spark, root) // ckpt_v2
    SnapshotTable.append(spark, root, fixture(80, 10)) // v3
    SnapshotSql.register(spark, "dryt", root)
    val preview = SnapshotSql
      .query(spark, "VACUUM dryt RETAIN 1 VERSIONS DRY RUN")
      .collect().map(_.getString(0)).toSeq
    // nothing was deleted: every version still reads
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2, 3))
    assert(SnapshotTable.readVersion(spark, root, 1).count() == 50)
    // the real sweep deletes exactly the previewed set
    val real = SnapshotTable.vacuum(spark, root, keepLast = 1)
    assert(real.sorted == preview.sorted, s"preview $preview vs real $real")
    assert(SnapshotTable.versions(spark, root) == Seq(3))
    // the write-route refuses the read shape, pointing at query()
    assert(intercept[Exception](SnapshotSql.execute(spark, "VACUUM dryt RETAIN 1 VERSIONS DRY RUN"))
      .getMessage.contains("DRY RUN"))
  }

  test("vacuum reclaims checkpoints and CDC caches of dropped versions even under an old pinned tag") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 50)) // v1
    SnapshotTable.createTag(spark, root, "golden") // pins v1
    SnapshotTable.append(spark, root, fixture(50, 20)) // v2
    SnapshotTable.checkpoint(spark, root) // ckpt_v2
    SnapshotTable.changesBetweenCached(spark, root, 1, 2) // _cdc/r...2
    SnapshotTable.append(spark, root, fixture(70, 20)) // v3
    SnapshotTable.checkpoint(spark, root) // ckpt_v3
    val deleted = SnapshotTable.vacuum(spark, root, keepLast = 1)
    // v1 survives (tagged); v2 drops — and with it its checkpoint and
    // CDC range, which a min-version cutoff at the pin would leak forever
    assert(SnapshotTable.versions(spark, root) == Seq(1, 3))
    assert(deleted.exists(_.contains("ckpt_v00000002")), s"ckpt_v2 must reclaim, got $deleted")
    assert(deleted.exists(_.startsWith("_cdc/r")), s"the v2-ending CDC range must reclaim, got $deleted")
    assert(!deleted.exists(_.contains("ckpt_v00000003")), "the live checkpoint must survive")
    assert(SnapshotTable.readVersion(spark, root, 1).count() == 50) // pin intact
  }

  test("cherry-pick lands an append-only branch delta on an ADVANCED main; non-appends refuse") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 100)) // v1
    val stage = SnapshotTable.createBranch(spark, root, "stage")
    SnapshotTable.append(spark, stage, fixture(100, 30)) // branch v2
    SnapshotTable.append(spark, stage, fixture(130, 10)) // branch v3
    // main advances past the fork — fastForward would refuse; cherry-pick works
    SnapshotTable.append(spark, root, fixture(500, 5)) // main v2
    SnapshotTable.deleteWhere(spark, root, Seq(Bound("k", Some(0L), Some(4L)))) // main v3
    assert(intercept[Exception](SnapshotTable.fastForward(spark, root, "stage"))
      .getMessage.contains("diverges"))
    val v = SnapshotTable.cherryPick(spark, root, "stage")
    assert(v == 4 && SnapshotTable.latestVersion(spark, root).contains(4))
    // final state = main's own history + exactly the staged rows
    assert(rows(SnapshotTable.read(spark, root)) ==
      rows(fixture(5, 95).unionByName(fixture(500, 5)).unionByName(fixture(100, 40))))
    // CDC sees the pick as plain inserts of the delta
    val ch = SnapshotTable.changesBetween(spark, root, 3, 4)
    assert(ch.count() == 40 && ch.select("_change_type").distinct().collect().map(_.getString(0)).toSeq == Seq("insert"))
    // idempotent: a re-pick (crashed caller re-running) is a no-op
    assert(SnapshotTable.cherryPick(spark, root, "stage") == 4)
    assert(SnapshotTable.read(spark, root).count() == 140)
    SnapshotTable.dropBranch(spark, root, "stage")

    // a branch holding DML refuses (its delta depends on fork state)
    val fix = SnapshotTable.createBranch(spark, root, "fix")
    SnapshotTable.append(spark, fix, fixture(900, 5))
    SnapshotTable.deleteWhere(spark, fix, Seq(Bound("k", Some(900L), Some(901L))))
    SnapshotTable.append(spark, root, fixture(950, 1)) // diverge main
    val e = intercept[Exception](SnapshotTable.cherryPick(spark, root, "fix"))
    assert(e.getMessage.contains("append-only"))
  }

  test("cherry-pick on a fork whose manifest holds pre-fork DML FILE entries neither double-counts nor resurrects") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    // 4 range-clustered files so DML touches some files and carries the
    // rest forward as individual FILE entries in the manifest's dirs
    SnapshotTable.create(
      spark, root,
      fixture(0, 100).repartitionByRange(4, col("k")).sortWithinPartitions("k")) // v1
    // pre-fork row-level DML: the v2 manifest lists the untouched files
    // as FILE entries — exactly the shape the deltaStats filter must
    // exclude by FILE identity, not just containing dir
    SnapshotTable.deleteWhere(spark, root, Seq(Bound("k", Some(0L), Some(9L)))) // v2
    val stage = SnapshotTable.createBranch(spark, root, "stage") // fork = v2
    SnapshotTable.append(spark, stage, fixture(200, 20)) // branch v3, append-only
    // main drops one of those pre-fork untouched files AFTER the fork: a
    // buggy pick that re-published the fork's file stats would resurrect it
    SnapshotTable.deleteWhere(spark, root, Seq(Bound("k", Some(50L), Some(74L)))) // main v3
    val v = SnapshotTable.cherryPick(spark, root, "stage")
    assert(v == 4)
    // exactly main's own state + the 20 staged rows; nothing resurrected
    assert(SnapshotTable.read(spark, root).count() == 100 - 10 - 25 + 20)
    assert(SnapshotTable.read(spark, root).filter("k BETWEEN 50 AND 74").count() == 0)
    assert(rows(SnapshotTable.read(spark, root)) ==
      rows(fixture(10, 40).unionByName(fixture(75, 25)).unionByName(fixture(200, 20))))
    // the pick commit's stat list is duplicate-free (countWhere exactness)
    val tipFiles = SnapshotTable.history(spark, root).last.files.map(_.path)
    assert(tipFiles.distinct.size == tipFiles.size, s"duplicate FileStats in pick commit: $tipFiles")
    assert(SnapshotTable.countWhere(spark, root, Seq(Bound("k", Some(10L), Some(49L)))) == 40)
  }

  test("cherry-pick re-proves constraints main gained since the fork") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 50)) // v1
    val stage = SnapshotTable.createBranch(spark, root, "stage")
    SnapshotTable.append(spark, stage, fixture(50, 10)) // k in [50,60): price_c = 13k%997
    // main gains a check the staged rows VIOLATE after the fork
    SnapshotTable.addCheck(spark, root, "small_k", "k < 55") // existing rows pass? no — k up to 49 pass
    val e = intercept[Exception](SnapshotTable.cherryPick(spark, root, "stage"))
    assert(e.getMessage.toLowerCase.contains("small_k"))
    // a satisfiable check lets the pick through
    SnapshotTable.dropCheck(spark, root, "small_k")
    SnapshotTable.addCheck(spark, root, "k_range", "k < 1000")
    val v = SnapshotTable.cherryPick(spark, root, "stage")
    assert(SnapshotTable.read(spark, root).count() == 60)
    assert(SnapshotTable.history(spark, root).last.action == "cherrypick" &&
      SnapshotTable.history(spark, root).last.version == v)
  }

  test("cherry-pick re-proves a CHECK on a column main added after the fork; the picked rows read it as null") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 50)) // v1
    val stage = SnapshotTable.createBranch(spark, root, "stage")
    SnapshotTable.append(spark, stage, fixture(50, 10)) // written without `note`
    SnapshotTable.addColumn(spark, root, "note", org.apache.spark.sql.types.StringType)
    SnapshotTable.addCheck(spark, root, "short_note", "note IS NULL OR length(note) < 10")
    SnapshotTable.cherryPick(spark, root, "stage")
    val got = SnapshotTable.read(spark, root)
    assert(got.count() == 60)
    assert(got.filter("k >= 50 AND note IS NULL").count() == 10)
  }

  test("rebase replays a diverged branch onto current main; fastForward then lands") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 100)) // v1
    val dev = SnapshotTable.createBranch(spark, root, "dev")
    // branch history: append + recorded-bounds MOR delete + MOR merge
    SnapshotTable.append(spark, dev, fixture(100, 30)) // branch v2
    SnapshotTable.deleteWhereMor(spark, dev, Seq(Bound("k", Some(10L), Some(19L)))) // branch v3
    SnapshotTable.mergeUpsertMor(
      spark, dev, fixture(0, 5).withColumn("price_c", org.apache.spark.sql.functions.lit(999L)), Seq("k")) // branch v4
    // main diverges: new rows INSIDE the branch's deleted range, and a key
    // the branch's merge upserts
    SnapshotTable.append(spark, root, fixture(200, 10)) // main v2
    SnapshotTable.updateWhere(
      spark, root, Seq(Bound("k", Some(3L), Some(3L))),
      Map("price_c" -> org.apache.spark.sql.functions.lit(777L))) // main v3
    assert(intercept[Exception](SnapshotTable.fastForward(spark, root, "dev"))
      .getMessage.contains("diverges"))

    val rebased = SnapshotTable.rebase(spark, root, "dev")
    assert(rebased == 3 + 3, "replayed chain = main tip v3 + 3 local commits")
    assert(SnapshotTable.branches(spark, root) == Seq("dev" -> 3), "fork moved to main's tip")
    // re-run semantics on the NEW base: main's post-fork rows survive, the
    // branch's delete re-executes (10..19 gone), the merge overrides k<5
    // INCLUDING main's v3 update of k=3
    val got = rows(SnapshotTable.read(spark, dev))
    val expect = rows(
      fixture(0, 100).filter("k < 10 OR k >= 20").filter("k >= 5")
        .unionByName(fixture(0, 5).withColumn("price_c", org.apache.spark.sql.functions.lit(999L)))
        .unionByName(fixture(100, 30))
        .unionByName(fixture(200, 10)))
    assert(got == expect)
    // the rebased branch fast-forwards (main still at v3)
    SnapshotTable.fastForward(spark, root, "dev")
    assert(rows(SnapshotTable.read(spark, root)) == expect)
    SnapshotTable.dropBranch(spark, root, "dev")

    // a COPY-ON-WRITE rewrite with NO write-time capture (the pre-capture /
    // capture-off shape) still refuses, naming the version
    val fix = SnapshotTable.createBranch(spark, root, "fix")
    SnapshotTable.append(spark, fix, fixture(300, 5)) // branch-local v7
    spark.conf.set("spark.graft.cdc.onWrite", "false")
    try SnapshotTable.deleteWhere(spark, fix, Seq(Bound("k", Some(300L), Some(301L)))) // branch-local v8 (COW, uncaptured)
    finally spark.conf.unset("spark.graft.cdc.onWrite")
    SnapshotTable.append(spark, root, fixture(400, 5)) // main advances
    val e = intercept[Exception](SnapshotTable.rebase(spark, root, "fix"))
    assert(e.getMessage.contains("v8") && e.getMessage.contains("delete"), e.getMessage)
    // the refusal left the original branch fully intact
    assert(SnapshotTable.read(spark, fix).count() ==
      SnapshotTable.read(spark, root).count() - 5 + 5 - 2)
    SnapshotTable.dropBranch(spark, root, "fix")

    // exactly-once epoch markers SURVIVE the replay: a stream whose epoch
    // landed on the branch pre-rebase must no-op its replay afterwards
    val ep = SnapshotTable.createBranch(spark, root, "epochs")
    SnapshotTable.appendBatchExactlyOnce(spark, ep, fixture(700, 5), batchId = 7L)
    SnapshotTable.append(spark, root, fixture(800, 1)) // diverge main
    SnapshotTable.rebase(spark, root, "epochs")
    assert(SnapshotTable.history(spark, ep).last.batchId.contains(7L),
      "the replayed append must carry its epoch id")
    assert(SnapshotTable.appendBatchExactlyOnce(spark, ep, fixture(700, 5), batchId = 7L) ==
      SnapshotTable.latestVersion(spark, ep).get, "the replayed epoch no-ops")
    assert(SnapshotTable.read(spark, ep).filter("k >= 700 AND k < 705").count() == 5)
    SnapshotTable.dropBranch(spark, root, "epochs")

    // a no-commit branch rebases to a plain re-fork; SQL surface routes
    import graft.sinks.SnapshotSql
    SnapshotTable.createBranch(spark, root, "idle")
    SnapshotTable.append(spark, root, fixture(500, 5))
    SnapshotSql.register(spark, "rbt", root)
    val v = SnapshotSql.execute(spark, "ALTER TABLE rbt REBASE BRANCH idle")
    assert(v == SnapshotTable.latestVersion(spark, root).get)
    assert(SnapshotTable.branches(spark, root).exists { case (b, f) => b == "idle" && f == v })
    assert(intercept[Exception](SnapshotTable.createBranch(spark, root, "__rebase-x"))
      .getMessage.contains("reserved"))
  }

  test("rebase replays a keys-kind MOR delete from its recorded key-tombstone sidecar") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 100)) // v1
    val dev = SnapshotTable.createBranch(spark, root, "kdel")
    // branch: KEYED MOR delete (keys mask + sidecar, NO pred bounds) —
    // the deleteByKeys / MERGE matched-DELETE shape that used to refuse
    SnapshotTable.deleteMatchedMor(spark, dev, fixture(0, 10), Seq("k")) // branch v2
    // main diverges with rows that REUSE deleted keys (5..9) and live ones
    SnapshotTable.append(spark, root, fixture(5, 10)) // main v2: k 5..14
    assert(intercept[Exception](SnapshotTable.fastForward(spark, root, "kdel"))
      .getMessage.contains("diverges"))
    SnapshotTable.rebase(spark, root, "kdel")
    // re-run semantics on the NEW base: every row with a tombstoned key is
    // hidden — v1's k 0..9 AND main's post-fork k 5..9 — while main's
    // k 10..14 duplicates survive
    val got = rows(SnapshotTable.read(spark, dev))
    val expect = rows(fixture(10, 90).unionByName(fixture(10, 5)))
    assert(got == expect)
    // exact accounting re-counted against the NEW base: 10 fork-time rows
    // + 5 post-fork key reuses = 15 hidden rows
    val replayed = SnapshotTable.history(spark, dev).last
    assert(replayed.action == "mor-delete" && replayed.addedRows == -15L,
      s"${replayed.action} addedRows=${replayed.addedRows}")
    // fast-forward publishes; the CDC fold over the published history
    // still reconciles (the feed is mask-aware)
    SnapshotTable.fastForward(spark, root, "kdel")
    assert(rows(SnapshotTable.read(spark, root)) == expect)
    SnapshotTable.dropBranch(spark, root, "kdel")
  }

  test("a streaming-delete epoch MARKER (maskless batchId mor-delete) stays rebaseable and the identity survives every rebase") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 20)) // v1
    val dev = SnapshotTable.createBranch(spark, root, "mk")
    // the shape a PRIOR rebase leaves when a keys-kind streaming-delete
    // epoch matched zero candidates on its new base: a maskless mor-delete
    // carrying the (appId, batchId) exactly-once identity. Constructed
    // directly because it only arises via replay — this IS the replayed
    // commit, verbatim.
    val tipV = SnapshotTable.latestVersion(spark, dev).get
    val tip = SnapshotTable.readManifest(spark, dev, tipV)
    SnapshotTable.publish(spark, dev, tip.copy(
      version = tipV + 1, action = "mor-delete", addedRows = 0L,
      batchId = Some(7L), appId = Some("qZ"), cdc = None))
    SnapshotTable.append(spark, dev, fixture(300, 5)) // branch work past the marker
    SnapshotTable.append(spark, root, fixture(100, 5)) // main diverges
    SnapshotTable.rebase(spark, root, "mk") // used to refuse: no-op arm demanded batchId.isEmpty
    assert(rows(SnapshotTable.read(spark, dev)) ==
      rows(fixture(0, 20).unionByName(fixture(100, 5)).unionByName(fixture(300, 5))))
    def marker() = SnapshotTable.history(spark, dev)
      .find(c => c.action == "mor-delete" && c.batchId.contains(7L))
    assert(marker().exists(_.appId.contains("qZ")),
      "the exactly-once epoch identity must SURVIVE the rebase, or the epoch could re-land")
    // rebase AGAIN over fresh divergence: the re-published marker must
    // itself classify replayable and re-carry the identity
    SnapshotTable.append(spark, root, fixture(200, 3))
    SnapshotTable.rebase(spark, root, "mk")
    assert(marker().exists(_.appId.contains("qZ")), "marker must survive repeated rebases")
    assert(rows(SnapshotTable.read(spark, dev)).size == 33)
  }

  test("a MASKLESS MOR-merge (zero-candidate or all-null keys) replays under the append rule — the branch stays rebaseable") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = freshRoot()
    // one tight-stats file with k 0..9: an upsert keyed far outside
    // PROVABLY matches nothing, so the commit records no mask at all
    SnapshotTable.create(spark, root, fixture(0, 10).coalesce(1))
    val dev = SnapshotTable.createBranch(spark, root, "mm")
    SnapshotTable.mergeUpsertMor(spark, dev, fixture(100, 3), Seq("k")) // branch v2
    val v2 = SnapshotTable.history(spark, dev).last
    assert(v2.action == "mor-merge" && v2.masks.isEmpty,
      s"zero-candidate upsert must be maskless: ${v2.action} ${v2.masks}")
    // the OTHER maskless shape: all-null keys (pure insert by contract)
    SnapshotTable.mergeUpsertMor(
      spark, dev,
      fixture(500, 2).select(lit(null).cast("bigint").as("k"), col("d"), col("price_c")),
      Seq("k")) // branch v3
    SnapshotTable.append(spark, root, fixture(200, 4)) // main diverges
    SnapshotTable.rebase(spark, root, "mm") // used to refuse: maskless mor-merge
    val got = SnapshotTable.read(spark, dev)
    assert(got.count() == 10 + 3 + 2 + 4, s"count ${got.count()}")
    assert(got.filter("k >= 100 AND k <= 102").count() == 3,
      "the zero-candidate upsert replays as the append it provably was")
    assert(got.filter("k IS NULL").count() == 2)
    // rebase AGAIN over fresh divergence: the replayed maskless commits
    // must themselves re-classify replayable
    SnapshotTable.append(spark, root, fixture(300, 1))
    SnapshotTable.rebase(spark, root, "mm")
    assert(SnapshotTable.read(spark, dev).count() == 20)
  }

  test("a branch that ran OPTIMIZE rebases: the compact replays as a data-identical SKIP") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 10))
    val dev = SnapshotTable.createBranch(spark, root, "opt")
    SnapshotTable.append(spark, dev, fixture(50, 5)) // branch v2
    // OPTIMIZE on the branch (the shape a branch stream's compactEvery
    // maintenance loop leaves) — data-identical by construction
    SnapshotTable.compactSmall(spark, dev, smallBytes = Long.MaxValue, targetBytes = Long.MaxValue)
    SnapshotTable.append(spark, dev, fixture(60, 2)) // post-compact branch work
    SnapshotTable.append(spark, root, fixture(100, 3)) // main diverges
    SnapshotTable.rebase(spark, root, "opt") // used to refuse on the compact commit
    assert(rows(SnapshotTable.read(spark, dev)) ==
      rows(fixture(0, 10).unionByName(fixture(50, 5))
        .unionByName(fixture(60, 2)).unionByName(fixture(100, 3))))
    // the compact replayed as a SKIP: the rebased chain is uncompacted
    // (content-identical; the next OPTIMIZE re-compacts)
    assert(SnapshotTable.history(spark, dev).count(_.action == "compact") == 0)
  }

  test("a branch OVERWRITE rebases: replay replaces the new tip — last write wins, which is what overwrite means") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 10))
    val dev = SnapshotTable.createBranch(spark, root, "ow")
    SnapshotTable.overwrite(spark, dev, fixture(500, 4)) // branch v2
    SnapshotTable.append(spark, dev, fixture(600, 1)) // branch v3
    SnapshotTable.append(spark, root, fixture(100, 3)) // main diverges
    SnapshotTable.rebase(spark, root, "ow") // used to refuse on the overwrite commit
    assert(rows(SnapshotTable.read(spark, dev)) ==
      rows(fixture(500, 4).unionByName(fixture(600, 1))),
      "the replayed overwrite replaces main's post-fork rows too — its defining semantics")
    SnapshotTable.fastForward(spark, root, "ow")
    assert(SnapshotTable.read(spark, root).count() == 5)
  }

  test("a SCHEMA-MIGRATION branch rebases: ADD + lossless WIDEN re-apply as DDL on the new tip; DROP still refuses") {
    import graft.sinks.SnapshotTable.{AddCol, DropCol, WidenCol}
    import org.apache.spark.sql.types.{LongType, StringType}
    val root = freshRoot()
    SnapshotTable.create(
      spark, root,
      spark.range(10).selectExpr("CAST(id AS INT) AS k", "concat('v', id) AS s"))
    val dev = SnapshotTable.createBranch(spark, root, "mig")
    // the migration: widen the key, add a column — then branch data at
    // the NEW schema
    SnapshotTable.alterSchema(spark, dev, Seq(WidenCol("k", LongType), AddCol("note", StringType)))
    SnapshotTable.append(
      spark, dev,
      spark.range(100, 103).selectExpr("id AS k", "concat('v', id) AS s", "'migrated' AS note"))
    // main diverges at the OLD schema (int key, no note)
    SnapshotTable.append(
      spark, root,
      spark.range(50, 52).selectExpr("CAST(id AS INT) AS k", "concat('v', id) AS s"))
    SnapshotTable.rebase(spark, root, "mig") // used to refuse on the schema commit
    val got = SnapshotTable.read(spark, dev)
    assert(got.schema("k").dataType == LongType, got.schema.treeString)
    assert(got.schema.fieldNames.contains("note"))
    assert(got.count() == 15)
    assert(got.filter("note = 'migrated'").count() == 3,
      "pre-migration rows read note as null; the branch's rows carry it")
    // the replayed DDL stripped the tip's narrow-typed blooms: a
    // wide-typed point probe stays CORRECT (a stale int bloom could
    // false-prune this row)
    assert(SnapshotTable.readWhere(
      spark, dev, Seq(SnapshotTable.Bound("k", Some(50L), Some(50L)))).count() == 1)
    assert(SnapshotTable.history(spark, dev).count(_.action == "schema") == 1)
    // rebase AGAIN (the replayed schema commit must re-classify)
    SnapshotTable.append(
      spark, root,
      spark.range(60, 61).selectExpr("CAST(id AS INT) AS k", "concat('v', id) AS s"))
    SnapshotTable.rebase(spark, root, "mig")
    assert(SnapshotTable.read(spark, dev).count() == 16)
    // a DROP migration is NOT monotone — refuse loudly, branch intact
    val dev2 = SnapshotTable.createBranch(spark, root, "mig2")
    SnapshotTable.alterSchema(spark, dev2, Seq(DropCol("s")))
    SnapshotTable.append(spark, root, spark.range(70, 71).selectExpr("CAST(id AS INT) AS k", "concat('v', id) AS s"))
    val e = intercept[Exception](SnapshotTable.rebase(spark, root, "mig2"))
    assert(e.getMessage.contains("conflicting version"), e.getMessage)
  }

  test("CONVERGENT migrations rebase by widening; colliding same-name-different-column migrations refuse loudly") {
    import graft.sinks.SnapshotTable.{AddCol, WidenCol}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    // convergence: branch adds note BIGINT, main independently adds note
    // INT — same logical AND physical column, so the replay must WIDEN
    // main's to the branch's declared type, never silently narrow
    val root = freshRoot()
    SnapshotTable.create(
      spark, root,
      spark.range(5).selectExpr("CAST(id AS INT) AS k", "concat('v', id) AS s"))
    val dev = SnapshotTable.createBranch(spark, root, "cvg")
    SnapshotTable.alterSchema(spark, dev, Seq(AddCol("note", LongType)))
    SnapshotTable.append(
      spark, dev, spark.range(100, 102).selectExpr("CAST(id AS INT) AS k", "'b' AS s", "id AS note"))
    SnapshotTable.alterSchema(spark, root, Seq(AddCol("note", IntegerType)))
    SnapshotTable.append(
      spark, root,
      spark.range(50, 52).selectExpr("CAST(id AS INT) AS k", "'m' AS s", "CAST(id AS INT) AS note"))
    SnapshotTable.rebase(spark, root, "cvg")
    val got = SnapshotTable.read(spark, dev)
    assert(got.schema("note").dataType == LongType,
      s"the branch's BIGINT migration must not silently narrow: ${got.schema.treeString}")
    assert(got.filter("note IS NOT NULL").count() == 4, "main's INT values upcast, branch's land")
    // collision: main RENAMEs s -> note2 (frozen physical 's'); the branch
    // ADDs a brand-new note2 (physical 'note2') — same name, DIFFERENT
    // columns; a silent skip would null the branch's data — refuse
    val root2 = freshRoot()
    SnapshotTable.create(
      spark, root2,
      spark.range(5).selectExpr("CAST(id AS INT) AS k", "concat('v', id) AS s"))
    val dev2 = SnapshotTable.createBranch(spark, root2, "col")
    SnapshotTable.alterSchema(spark, dev2, Seq(AddCol("note2", LongType)))
    SnapshotTable.renameColumn(spark, root2, "s", "note2")
    SnapshotTable.append(spark, root2, spark.range(60, 61).selectExpr("CAST(id AS INT) AS k", "'x' AS note2"))
    val e = intercept[Exception](SnapshotTable.rebase(spark, root2, "col"))
    assert(e.getMessage != null && e.getMessage.contains("DIFFERENT columns"), e.toString)
    assert(SnapshotTable.read(spark, SnapshotTable.branchRef(root2, "col")).count() == 5,
      "a refused replay leaves the branch untouched")
    // the SAME-physical variant: main added the convergent column then
    // RENAMED it — identical physical name, diverged logical names; the
    // refusal must diagnose a RENAME conflict, not claim different columns
    val root3 = freshRoot()
    SnapshotTable.create(
      spark, root3,
      spark.range(5).selectExpr("CAST(id AS INT) AS k", "concat('v', id) AS s"))
    val dev3 = SnapshotTable.createBranch(spark, root3, "ren")
    SnapshotTable.alterSchema(spark, dev3, Seq(AddCol("note3", LongType)))
    SnapshotTable.alterSchema(spark, root3, Seq(AddCol("note3", LongType)))
    SnapshotTable.renameColumn(spark, root3, "note3", "memo")
    val e3 = intercept[Exception](SnapshotTable.rebase(spark, root3, "ren"))
    assert(e3.getMessage != null && e3.getMessage.contains("rename conflict"), e3.toString)
  }

  test("a branch OVERWRITE that CHANGED a column's type still rebases (overwrite owns its schema)") {
    import org.apache.spark.sql.types.StringType
    val root = freshRoot()
    SnapshotTable.create(
      spark, root,
      spark.range(5).selectExpr("CAST(id AS INT) AS k", "concat('v', id) AS s"))
    val dev = SnapshotTable.createBranch(spark, root, "owt")
    // overwrite may change types arbitrarily — it replaced the table
    SnapshotTable.overwrite(
      spark, dev, spark.range(3).selectExpr("concat('key-', id) AS k", "concat('w', id) AS s"))
    SnapshotTable.append(spark, root, spark.range(50, 52).selectExpr("CAST(id AS INT) AS k", "'m' AS s"))
    SnapshotTable.rebase(spark, root, "owt") // used to throw mergeSchemas 'cannot change column' mid-replay
    val got = SnapshotTable.read(spark, dev)
    assert(got.schema("k").dataType == StringType, got.schema.treeString)
    assert(got.count() == 3, "the replayed overwrite replaced everything, schema included")
  }

  test("a WIDEN migration rebasing onto a mask-carrying base SELF-HEALS: the replay compacts the staged chain, then applies the DDL") {
    import graft.sinks.SnapshotTable.WidenCol
    import org.apache.spark.sql.types.LongType
    val root = freshRoot()
    SnapshotTable.create(
      spark, root,
      spark.range(10).selectExpr("CAST(id AS INT) AS k", "concat('v', id) AS s"))
    val dev = SnapshotTable.createBranch(spark, root, "wmk")
    SnapshotTable.alterSchema(spark, dev, Seq(WidenCol("k", LongType)))
    // main's MOR delete leaves a pending mask at its tip — a widen cannot
    // apply over typed mask bounds, so the replay reconciles the staged
    // chain with ONE compact first (no user action needed)
    SnapshotTable.deleteWhereMor(spark, root, Seq(SnapshotTable.Bound("k", Some(0L), Some(2L))))
    SnapshotTable.rebase(spark, root, "wmk")
    val got = SnapshotTable.read(spark, dev)
    assert(got.schema("k").dataType == LongType, got.schema.treeString)
    assert(got.count() == 7, "the base's MOR delete holds through the reconciling compact")
    val acts = SnapshotTable.history(spark, dev).map(_.action)
    assert(acts.contains("compact") && acts.contains("schema"), acts.toString)
  }

  test("a branch chaining MOR upsert -> OPTIMIZE -> WIDEN rebases: the skip-replayed compact's mask is self-healed before the DDL") {
    import graft.sinks.SnapshotTable.WidenCol
    import org.apache.spark.sql.types.LongType
    val root = freshRoot()
    SnapshotTable.create(
      spark, root,
      spark.range(10).selectExpr("CAST(id AS INT) AS k", "concat('v', id) AS s"))
    val dev = SnapshotTable.createBranch(spark, root, "mcw")
    // the branch's OWN mask: upsert (keys mask), then its reconciling
    // compact — legal at write time; on replay the compact SKIPS, so the
    // re-added mask would block the widen without the self-heal
    SnapshotTable.mergeUpsertMor(
      spark, dev, spark.range(3, 5).selectExpr("CAST(id AS INT) AS k", "'up' AS s"), Seq("k"))
    SnapshotTable.compactSmall(spark, dev, smallBytes = Long.MaxValue, targetBytes = Long.MaxValue)
    SnapshotTable.alterSchema(spark, dev, Seq(WidenCol("k", LongType)))
    SnapshotTable.append(spark, root, spark.range(50, 52).selectExpr("CAST(id AS INT) AS k", "'m' AS s"))
    SnapshotTable.rebase(spark, root, "mcw") // used to wedge permanently mid-replay
    val got = SnapshotTable.read(spark, dev)
    assert(got.schema("k").dataType == LongType, got.schema.treeString)
    assert(got.count() == 12 && got.filter("s = 'up'").count() == 2, s"count ${got.count()}")
  }

  test("a CONVERGENT add where MAIN went wider rebases: the branch's narrow-written rows upcast under the tip's type") {
    import graft.sinks.SnapshotTable.AddCol
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val root = freshRoot()
    SnapshotTable.create(
      spark, root,
      spark.range(5).selectExpr("CAST(id AS INT) AS k", "concat('v', id) AS s"))
    val dev = SnapshotTable.createBranch(spark, root, "cvw")
    SnapshotTable.alterSchema(spark, dev, Seq(AddCol("note", IntegerType)))
    SnapshotTable.append(
      spark, dev,
      spark.range(100, 102).selectExpr("CAST(id AS INT) AS k", "'b' AS s", "CAST(id AS INT) AS note"))
    // main declared the SAME column wider — the branch's INT-written
    // files read correctly at BIGINT (the widen contract), so the replay
    // must upcast and land, not abort in mergeSchemas' strict equality
    SnapshotTable.alterSchema(spark, root, Seq(AddCol("note", LongType)))
    SnapshotTable.append(
      spark, root, spark.range(50, 51).selectExpr("CAST(id AS INT) AS k", "'m' AS s", "id AS note"))
    SnapshotTable.rebase(spark, root, "cvw")
    val got = SnapshotTable.read(spark, dev)
    assert(got.schema("note").dataType == LongType, got.schema.treeString)
    assert(got.filter("note IS NOT NULL").count() == 3)
    assert(got.filter("note = 100").count() == 1, "the branch's INT-written value reads at BIGINT")
  }

  test("replayed-upcast data commits strip their narrow-typed blooms: a wide-typed point probe never falsely prunes") {
    import graft.sinks.SnapshotTable.WidenCol
    import org.apache.spark.sql.types.LongType
    val root = freshRoot()
    SnapshotTable.create(
      spark, root,
      spark.range(10).selectExpr("CAST(id AS INT) AS k", "concat('v', id) AS s"))
    val dev = SnapshotTable.createBranch(spark, root, "ubl")
    // the branch writes INT data (its files carry INT-hashed blooms) ...
    SnapshotTable.append(
      spark, dev, spark.range(100, 110).selectExpr("CAST(id AS INT) AS k", "'b' AS s"))
    // ... main widens k, so the replay upcasts the branch's append to LONG
    SnapshotTable.alterSchema(spark, root, Seq(WidenCol("k", LongType)))
    SnapshotTable.rebase(spark, root, "ubl")
    // the replayed append's carried stats must NOT keep the INT-hashed
    // bloom: hash(105:int) != hash(105L), so an unstripped bloom would
    // falsely prove absence and prune the live file on this LONG probe
    val probe = Seq(Bound("k", Some(105L), Some(105L)))
    assert(
      SnapshotTable.readWhere(spark, dev, probe).count() == 1,
      "the branch's narrow-written row must survive a widened-type equality probe")
    // and the carried file really did lose its k bloom (absent = unprunable = safe)
    val replayedAppend = SnapshotTable.history(spark, dev).find(_.action == "append").get
    assert(
      replayedAppend.files.filter(_.rows > 0).forall(f => !f.bloom.contains("k")),
      "replayed upcast commit must strip the widened column's blooms")
  }

  test("COMPOSED commutation: one branch chains widen DDL + MOR upsert + OPTIMIZE + epoch marker + append, and rebases TWICE") {
    import graft.sinks.SnapshotTable.WidenCol
    import org.apache.spark.sql.types.LongType
    val root = freshRoot()
    SnapshotTable.create(
      spark, root,
      spark.range(10).selectExpr("CAST(id AS INT) AS k", "concat('v', id) AS s"))
    val dev = SnapshotTable.createBranch(spark, root, "mix")
    // 1. schema migration (widen k) — replays as DDL on the staged tip
    SnapshotTable.alterSchema(spark, dev, Seq(WidenCol("k", LongType)))
    // 2. keyed MOR upsert AT THE WIDE TYPE — its sidecar re-prunes against
    // the (just-widened) staged tip on replay
    SnapshotTable.mergeUpsertMor(
      spark, dev, spark.range(5, 7).selectExpr("id AS k", "'upserted' AS s"), Seq("k"))
    // 3. OPTIMIZE — replays as a skip
    SnapshotTable.compactSmall(spark, dev, smallBytes = Long.MaxValue, targetBytes = Long.MaxValue)
    // 4. a streaming epoch lands exactly-once (marker must survive)
    SnapshotTable.appendBatchExactlyOnce(
      spark, dev, spark.range(100, 102).selectExpr("id AS k", "'epoch' AS s"), 0L, Some("qMix"))
    // main diverges, REUSING an upserted key — the replayed MOR mask must
    // hide main's post-fork k=5 row too (re-run semantics)
    SnapshotTable.append(
      spark, root, spark.range(5, 6).selectExpr("CAST(id AS INT) AS k", "'main-reuse' AS s"))
    SnapshotTable.rebase(spark, root, "mix")
    def check(expectMainRows: Long): Unit = {
      val got = SnapshotTable.read(spark, dev)
      assert(got.schema("k").dataType == LongType, got.schema.treeString)
      assert(got.filter("k = 5").count() == 1, "one k=5 survivor")
      assert(got.filter("k = 5").select("s").head.getString(0) == "upserted",
        "the replayed MOR upsert must hide BOTH the fork-time k=5 and main's post-fork reuse")
      assert(got.filter("s = 'epoch'").count() == 2)
      assert(got.count() == 10 + 2 + expectMainRows - 1, s"count ${got.count()}")
      // the epoch's exactly-once identity survived: a replayed epoch 0
      // of the same query still no-ops on the rebased chain
      val before = SnapshotTable.latestVersion(spark, dev).get
      SnapshotTable.appendBatchExactlyOnce(
        spark, dev, spark.range(100, 102).selectExpr("id AS k", "'epoch' AS s"), 0L, Some("qMix"))
      assert(SnapshotTable.latestVersion(spark, dev).get == before,
        "the epoch marker must keep deduping after the rebase")
    }
    check(expectMainRows = 1)
    // rebase AGAIN: every replayed shape must re-classify
    SnapshotTable.append(
      spark, root, spark.range(200, 201).selectExpr("CAST(id AS INT) AS k", "'m2' AS s"))
    SnapshotTable.rebase(spark, root, "mix")
    check(expectMainRows = 2)
  }

  test("a WIDEN of a column MAIN later DROPPED refuses loudly via the revival-type contract — branch intact") {
    import graft.sinks.SnapshotTable.{DropCol, WidenCol}
    import org.apache.spark.sql.types.LongType
    val root = freshRoot()
    SnapshotTable.create(
      spark, root,
      spark.range(5).selectExpr("CAST(id AS INT) AS k", "concat('v', id) AS s"))
    val dev = SnapshotTable.createBranch(spark, root, "wdrop")
    SnapshotTable.alterSchema(spark, dev, Seq(WidenCol("k", LongType)))
    // main DROPS the column the branch widened: the replay's revival
    // would re-add it at BIGINT over live INT bytes — the revival-type
    // contract must refuse, never silently resurrect at the wrong type
    SnapshotTable.alterSchema(spark, root, Seq(DropCol("k")))
    val e = intercept[Exception](SnapshotTable.rebase(spark, root, "wdrop"))
    assert(e.getMessage != null && e.getMessage.contains("revive"), e.toString)
    assert(
      SnapshotTable.read(spark, dev).columns.toSeq == Seq("k", "s"),
      "a refused replay leaves the branch untouched")
  }

  test("a branch whose MOR delete replayed into a no-op stays REBASEABLE (the git 'rebase again' contract)") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 50)) // v1
    val dev = SnapshotTable.createBranch(spark, root, "noop")
    // branch: pred-kind MOR delete of k 40..49
    SnapshotTable.deleteWhereMor(spark, dev, Seq(Bound("k", Some(40L), Some(49L)))) // branch v2
    // main itself COW-deletes a superset BEFORE the rebase, then diverges
    SnapshotTable.deleteWhere(spark, root, Seq(Bound("k", Some(30L), Some(49L)))) // main v2
    SnapshotTable.append(spark, root, fixture(100, 3)) // main v3
    SnapshotTable.rebase(spark, root, "noop") // replay: the delete matches NOTHING on the new base
    // main diverges AGAIN — the second rebase must accept the chain even
    // though the first replay left a maskless/no-op mor-delete commit
    SnapshotTable.append(spark, root, fixture(200, 2)) // main v4
    SnapshotTable.rebase(spark, root, "noop")
    SnapshotTable.fastForward(spark, root, "noop")
    assert(rows(SnapshotTable.read(spark, root)) ==
      rows(fixture(0, 30).unionByName(fixture(100, 3)).unionByName(fixture(200, 2))))
    SnapshotTable.dropBranch(spark, root, "noop")
  }

  test("rebase replays COW DML from its write-time CDC capture; interference refuses as a conflict") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 100)) // v1
    val dev = SnapshotTable.createBranch(spark, root, "dev")
    // branch history: ALL THREE captured COW shapes
    SnapshotTable.updateWhere(
      spark, dev, Seq(Bound("k", Some(5L), Some(9L))), Map("price_c" -> lit(555L))) // branch v2
    SnapshotTable.deleteWhere(spark, dev, Seq(Bound("k", Some(20L), Some(29L)))) // branch v3
    SnapshotTable.mergeUpsert(
      spark, dev, fixture(95, 10).withColumn("price_c", lit(888L)), Seq("k")) // branch v4
    // plus a branch-local append wholly deleted again — the zero-I/O
    // whole-file drop must survive the replay uncaptured
    SnapshotTable.append(spark, dev, fixture(300, 10)) // branch v5
    SnapshotTable.deleteWhere(spark, dev, Seq(Bound("k", Some(300L), Some(309L)))) // branch v6 (whole drop)
    // main diverges without touching any replayed pre-image
    SnapshotTable.append(spark, root, fixture(200, 10)) // main v2
    assert(intercept[Exception](SnapshotTable.fastForward(spark, root, "dev"))
      .getMessage.contains("diverges"))

    val rebased = SnapshotTable.rebase(spark, root, "dev")
    assert(rebased == 2 + 5, "replayed chain = main tip v2 + 5 local commits")
    assert(SnapshotTable.branches(spark, root) == Seq("dev" -> 2), "fork moved to main's tip")
    val got = rows(SnapshotTable.read(spark, dev))
    val expect = rows(
      fixture(0, 100)
        .filter("k < 20 OR k >= 30")
        .filter("k < 95")
        .withColumn("price_c", when(col("k").between(5, 9), lit(555L)).otherwise(col("price_c")))
        .unionByName(fixture(95, 10).withColumn("price_c", lit(888L)))
        .unionByName(fixture(200, 10)))
    assert(got == expect)
    // replayed actions keep their identities, and the whole-drop left no dir
    val replayedActions = SnapshotTable.history(spark, dev).drop(2).map(_.action)
    assert(replayedActions == Seq("update", "delete", "merge", "append", "delete"), replayedActions.toString)

    // the CDC FOLD INVARIANT holds across the rebased history: inserts
    // minus deletes over the whole feed reproduce the table exactly
    val ch = SnapshotTable.changesBetween(spark, dev, 0, SnapshotTable.latestVersion(spark, dev).get)
    val ins = ch.filter("_change_type = 'insert'").drop("_change_type", "_commit_version")
    val del = ch.filter("_change_type = 'delete'").drop("_change_type", "_commit_version")
    assert(rows(ins.exceptAll(del)) == expect, "CDC fold after COW replay")
    SnapshotTable.fastForward(spark, root, "dev")
    assert(rows(SnapshotTable.read(spark, root)) == expect)
    SnapshotTable.dropBranch(spark, root, "dev")

    // INTERFERENCE refuses loudly: main rewrote a captured pre-image row
    val cfl = SnapshotTable.createBranch(spark, root, "cfl")
    SnapshotTable.updateWhere(
      spark, cfl, Seq(Bound("k", Some(50L), Some(50L))), Map("price_c" -> lit(111L))) // branch COW
    SnapshotTable.updateWhere(
      spark, root, Seq(Bound("k", Some(50L), Some(50L))), Map("price_c" -> lit(222L))) // main rewrites the same row
    val e = intercept[Exception](SnapshotTable.rebase(spark, root, "cfl"))
    assert(e.getMessage.contains("conflict") && e.getMessage.contains("pre-image"), e.getMessage)
    // the refusal left the original branch intact (its own update visible)
    assert(SnapshotTable.read(spark, cfl).filter("k = 50").head.getLong(2) == 111L)
    SnapshotTable.dropBranch(spark, root, "cfl")
  }

  test("whole-drop replay is zero-I/O: the dropped dir's bytes are never read") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 100)) // v1
    val dev = SnapshotTable.createBranch(spark, root, "z")
    SnapshotTable.append(spark, dev, fixture(300, 10)) // branch v2: dir D
    val dDir = SnapshotTable.history(spark, dev).last.dirs.last
    SnapshotTable.deleteWhere(spark, dev, Seq(Bound("k", Some(300L), Some(309L)))) // branch v3: whole drop
    SnapshotTable.append(spark, root, fixture(200, 10)) // main diverges
    // DESTROY the dropped dir's parquet bytes: a zero-I/O replay never
    // opens them; the content-apply path would crash reading pre-images.
    // (The dir is branch-local and already dropped — nothing live
    // references its bytes.)
    val dPath = new java.io.File(root + "/data/" + dDir.stripPrefix("data/"))
    dPath.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val w = new java.io.FileOutputStream(f); w.write(Array[Byte](0, 1, 2)); w.close()
    }
    SnapshotTable.rebase(spark, root, "z")
    val got = rows(SnapshotTable.read(spark, dev))
    assert(got == rows(fixture(0, 100).unionByName(fixture(200, 10))),
      "whole-drop replay must drop the dir by manifest shape alone")
    SnapshotTable.dropBranch(spark, root, "z")
  }

  test("replaying a pure-insert COW merge carries dir-entry masks verbatim (no resurrection)") {
    import org.apache.spark.sql.functions.lit
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 100)) // v1
    // graft a stat-less LEGACY dir (uncovered by file stats) holding
    // rows 5000..5049 — the shape whose mask entry is the DIR name
    spark.range(5000, 5050).selectExpr(
      "id AS k", "DATE'1995-01-15' AS d", "id AS price_c")
      .write.parquet(root + "/data/legacy")
    val m1 = SnapshotTable.history(spark, root).last
    SnapshotTable.publish(spark, root, m1.copy(
      version = m1.version + 1, action = "append", dirs = m1.dirs :+ "data/legacy",
      addedRows = 50L, ts = 0L)) // v2
    SnapshotTable.deleteWhereMor(spark, root, Seq(Bound("k", Some(5000L), Some(5019L)))) // v3: masks the dir
    assert(SnapshotTable.read(spark, root).count() == 130)

    val ins = SnapshotTable.createBranch(spark, root, "ins")
    // branch: a captured COW merge with NO matched rows (pure insert —
    // the replay's no-delete-delta path, which carries uncovered dirs
    // verbatim and must carry their mask entries too)
    SnapshotTable.mergeInto(
      spark, ins, fixture(9000, 10).withColumn("price_c", lit(1L)), Seq("k"),
      matched = Seq(SnapshotTable.MatchedUpdate(None, None)),
      notMatched = Seq(SnapshotTable.NotMatchedInsert(None, None)))
    SnapshotTable.append(spark, root, fixture(200, 10)) // main diverges

    SnapshotTable.rebase(spark, root, "ins")
    val tip = SnapshotTable.history(spark, ins).last
    assert(tip.masks.exists(_.entries.contains("data/legacy")),
      s"rebase dropped the carried dir's mask entry: ${tip.masks}")
    assert(SnapshotTable.read(spark, ins).filter("k BETWEEN 5000 AND 5019").count() == 0,
      "masked legacy rows resurrected through the rebase replay")
    assert(SnapshotTable.read(spark, ins).count() == 130 + 10 + 10,
      "130 visible + 10 branch inserts + 10 main appends")
  }

  test("rebase re-proves constraints main gained since the fork over the replayed appends") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 50)) // v1
    val stage = SnapshotTable.createBranch(spark, root, "stage")
    SnapshotTable.append(spark, stage, fixture(100, 10)) // branch v2: k in [100,110)
    // main gains a CHECK the staged rows violate AFTER the fork
    SnapshotTable.addCheck(spark, root, "small_k", "k < 105") // main v2
    val e = intercept[Exception](SnapshotTable.rebase(spark, root, "stage"))
    assert(e.getMessage.toLowerCase.contains("small_k"), e.getMessage)
    // the refusal left the ORIGINAL branch intact and the stage swept
    assert(SnapshotTable.read(spark, stage).count() == 60)
    assert(SnapshotTable.branches(spark, root).map(_._1) == Seq("stage"))
    // a satisfiable check lets the replay through and carries onto the branch
    SnapshotTable.dropCheck(spark, root, "small_k")
    SnapshotTable.addCheck(spark, root, "k_range", "k < 1000")
    val v = SnapshotTable.rebase(spark, root, "stage")
    assert(SnapshotTable.read(spark, stage).count() == 60)
    assert(SnapshotTable.history(spark, stage).last.constraints.contains("k_range"))
    SnapshotTable.fastForward(spark, root, "stage")
    assert(SnapshotTable.read(spark, root).count() == 60 && v == SnapshotTable.latestVersion(spark, root).get)
  }

  test("SQL ref surface: branch/tag DDL, SHOW, VERSION AS OF refs, registered branch DML") {
    import graft.sinks.SnapshotSql
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 40)) // v1
    SnapshotTable.append(spark, root, fixture(40, 10)) // v2
    SnapshotSql.register(spark, "reft", root)

    assert(SnapshotSql.execute(spark, "ALTER TABLE reft CREATE TAG golden AS OF VERSION 1") == 1)
    assert(SnapshotSql.execute(spark, "ALTER TABLE reft CREATE BRANCH dev") == 2) // fork version
    // a registered BRANCH HANDLE takes SQL DML in isolation
    SnapshotSql.register(spark, "reft_dev", SnapshotTable.branchRef(root, "dev"))
    SnapshotSql.execute(spark, "DELETE FROM reft_dev WHERE k BETWEEN 0 AND 9")
    assert(SnapshotSql.query(spark, "SELECT count(*) AS n FROM reft_dev").head.getLong(0) == 40)
    assert(SnapshotSql.query(spark, "SELECT count(*) AS n FROM reft").head.getLong(0) == 50)

    // SHOW BRANCHES carries fork + tip; SHOW TAGS the pinned version
    val br = SnapshotSql.query(spark, "SHOW BRANCHES reft").collect()
    assert(br.length == 1 && br.head.getString(0) == "dev"
      && br.head.getInt(1) == 2 && br.head.getInt(2) == 3)
    val tg = SnapshotSql.query(spark, "SHOW TAGS IN reft").collect()
    assert(tg.length == 1 && tg.head.getString(0) == "golden" && tg.head.getInt(1) == 1)

    // VERSION AS OF resolves ref NAMES: tag → pinned version, branch → tip
    assert(SnapshotSql.query(spark,
      "SELECT count(*) AS n FROM reft VERSION AS OF 'golden'").head.getLong(0) == 40)
    assert(SnapshotSql.query(spark,
      "SELECT count(*) AS n FROM reft VERSION AS OF 'dev'").head.getLong(0) == 40)
    assert(intercept[Exception](SnapshotSql.query(spark,
      "SELECT * FROM reft VERSION AS OF 'nope'").collect()).getMessage.contains("no tag or branch"))

    // FAST FORWARD publishes; drops unpin
    assert(SnapshotSql.execute(spark, "ALTER TABLE reft FAST FORWARD BRANCH dev") == 3)
    assert(SnapshotSql.query(spark, "SELECT count(*) AS n FROM reft").head.getLong(0) == 40)
    SnapshotSql.execute(spark, "ALTER TABLE reft DROP BRANCH dev")
    SnapshotSql.execute(spark, "ALTER TABLE reft DROP TAG golden")
    assert(SnapshotSql.query(spark, "SHOW BRANCHES reft").isEmpty)
    assert(SnapshotSql.query(spark, "SHOW TAGS reft").isEmpty)

    // malformed ref shapes refuse loudly; a column NAMED tag/branch is
    // ordinary DDL and must still reach the real parser
    assert(intercept[Exception](SnapshotSql.execute(spark,
      "ALTER TABLE reft CREATE BRANCH b AT 3")).getMessage.contains("ref DDL supports"))
    SnapshotSql.execute(spark, "ALTER TABLE reft ADD COLUMN tag STRING")
    assert(SnapshotSql.query(spark, "SELECT * FROM reft").columns.contains("tag"))
  }

  test("a crashed rebase's staging ref is hidden from branches() but vacuum-LIVE") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 50)) // v1
    val dev = SnapshotTable.createBranch(spark, root, "dev")
    SnapshotTable.append(spark, dev, fixture(100, 20)) // branch-private dir
    val privateDirs =
      SnapshotTable.history(spark, dev).last.dirs.toSet -- SnapshotTable.history(spark, root).last.dirs.toSet
    assert(privateDirs.nonEmpty)
    // simulate the crashed-pre-swap state: the chain survives only under
    // the internal staging ref name
    val f = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    assert(f.rename(
      new org.apache.hadoop.fs.Path(root, "_manifests/ref-dev"),
      new org.apache.hadoop.fs.Path(root, "_manifests/ref-__rebase-dev")))
    // hidden from the user surface...
    assert(SnapshotTable.branches(spark, root).isEmpty)
    // ...but vacuum still counts its manifests and data dirs as LIVE
    SnapshotTable.overwrite(spark, root, fixture(0, 10)) // make v1 reclaim-eligible
    val deleted = SnapshotTable.vacuum(spark, root, keepLast = 1)
    assert(!deleted.exists(d => privateDirs.exists(d.startsWith)),
      s"staging-referenced dirs must survive vacuum, deleted: $deleted")
    // recovery: drop the abandoned stage, then vacuum reclaims
    SnapshotTable.dropBranch(spark, root, "__rebase-dev")
    val deleted2 = SnapshotTable.vacuum(spark, root, keepLast = 1)
    assert(privateDirs.forall(p => deleted2.exists(_.startsWith(p))), s"expected $privateDirs in $deleted2")
  }

  test("branch creation races resolve to exactly one winner; duplicates refuse") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(0, 10))
    SnapshotTable.createBranch(spark, root, "only")
    val e = intercept[Exception](SnapshotTable.createBranch(spark, root, "only"))
    assert(e.getMessage.contains("already exists"))
    assert(intercept[Exception](SnapshotTable.createBranch(spark, root, "bad name"))
      .getMessage.contains("ref name"))
    // all-digit names would parse as version numbers at every lookup
    assert(intercept[Exception](SnapshotTable.createTag(spark, root, "2024"))
      .getMessage.contains("all digits"))
    // nested refs refuse
    val dev = SnapshotTable.branchRef(root, "only")
    assert(intercept[Exception](SnapshotTable.createBranch(spark, dev, "sub"))
      .getMessage.contains("main table handle"))
  }
}
