package graft

import java.nio.file.Files

import graft.sinks.{SnapshotMv, SnapshotTable}
import graft.sinks.SnapshotTable.Bound
import org.apache.spark.sql.DataFrame

/** Incremental materialized views (SURVEY §2.J `cap_table_mv`): the view
  * is hash-identical to a full recompute after ARBITRARY base DML —
  * appends, COW delete/update, MOR merge/delete, even RESTORE — while
  * each refresh reads only the commits since its sync point and merges
  * per-group deltas (cost ∝ changes, never ∝ base). */
class SnapshotMvSpec extends SparkSuite {

  private def freshRoot(): String = Files.createTempDirectory("graft-mv").toString

  /** price_c is null every 7th row — exercises the null-exact sum algebra. */
  private def fixture(from: Int, n: Int): DataFrame =
    spark.range(from.toLong, (from + n).toLong).selectExpr(
      "id AS k",
      "CAST(id % 10 AS INT) AS grp",
      "CASE WHEN id % 7 = 0 THEN CAST(NULL AS BIGINT) ELSE (id * 13) % 997 END AS price_c")

  private def recompute(base: DataFrame): Seq[org.apache.spark.sql.Row] =
    base
      .filter("grp IS NOT NULL")
      .groupBy("grp")
      .agg(
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_rows"),
        org.apache.spark.sql.functions.sum("price_c").as("price_c"))
      .orderBy("grp")
      .collect()
      .toSeq

  private def mvRows(mvRoot: String): Seq[org.apache.spark.sql.Row] =
    SnapshotMv.read(spark, mvRoot).orderBy("grp").collect().toSeq

  test("create materializes the aggregate; refresh tracks appends, COW and MOR DML exactly") {
    val base = freshRoot(); val mv = freshRoot() + "/mv"
    SnapshotTable.create(spark, base, fixture(0, 500))
    SnapshotMv.create(spark, base, mv, keys = Seq("grp"), sums = Seq("price_c"))
    assert(mvRows(mv) == recompute(SnapshotTable.read(spark, base)))
    val v0 = SnapshotMv.syncedVersion(spark, mv)
    assert(v0 == SnapshotTable.latestVersion(spark, base).get)

    SnapshotTable.append(spark, base, fixture(500, 200))
    SnapshotTable.deleteWhere(spark, base, Seq(Bound("k", Some(100L), Some(299L))))
    SnapshotTable.updateWhere(
      spark, base, Seq(Bound("k", Some(0L), Some(49L))),
      Map("price_c" -> (org.apache.spark.sql.functions.col("price_c") + 1000)))
    SnapshotTable.mergeUpsertMor(
      spark, base,
      fixture(0, 700).filter("k % 11 = 0").withColumn(
        "price_c", org.apache.spark.sql.functions.expr("coalesce(price_c, 0) * 3")),
      Seq("k"))
    SnapshotTable.deleteWhereMor(spark, base, Seq(Bound("k", Some(600L), Some(650L))))

    SnapshotMv.refresh(spark, mv)
    assert(mvRows(mv) == recompute(SnapshotTable.read(spark, base)))
    assert(SnapshotMv.syncedVersion(spark, mv) == SnapshotTable.latestVersion(spark, base).get)
    // refresh is exactly-once: an immediate replay no-ops at the same version
    val v = SnapshotTable.latestVersion(spark, mv).get
    assert(SnapshotMv.refresh(spark, mv) == v)
  }

  test("asOfVersion creates the view synced at an OLD version; refresh catches it up (backfill-then-follow)") {
    val base = freshRoot(); val mv = freshRoot() + "/mv"
    SnapshotTable.create(spark, base, fixture(0, 500)) // v1
    SnapshotTable.deleteWhere(spark, base, Seq(Bound("k", Some(0L), Some(99L)))) // v2
    SnapshotTable.append(spark, base, fixture(500, 100)) // v3
    // the view materializes v1's aggregate, not the current state
    SnapshotMv.create(spark, base, mv, keys = Seq("grp"), sums = Seq("price_c"), asOfVersion = Some(1))
    assert(SnapshotMv.syncedVersion(spark, mv) == 1)
    assert(mvRows(mv) == recompute(SnapshotTable.readVersion(spark, base, 1)))
    // catch-up applies exactly the v2..v3 deltas
    SnapshotMv.refresh(spark, mv)
    assert(SnapshotMv.syncedVersion(spark, mv) == 3)
    assert(mvRows(mv) == recompute(SnapshotTable.read(spark, base)))
    // out-of-history versions refuse
    assert(intercept[Exception](
      SnapshotMv.create(spark, base, freshRoot() + "/mv2", Seq("grp"), Seq("price_c"), asOfVersion = Some(9)))
      .getMessage.contains("outside"))
  }

  test("groups vanish and appear; all-null sums stay NULL-exact under deletes") {
    val base = freshRoot(); val mv = freshRoot() + "/mv"
    // grp 0 holds k ∈ {0, 10, 20}: k=0 and k=14? no — nulls at k%7=0
    SnapshotTable.create(spark, base, fixture(0, 30)) // grps 0..9, 3 rows each
    SnapshotMv.create(spark, base, mv, Seq("grp"), Seq("price_c"))

    // vanish: delete ALL of grp 3 (k = 3, 13, 23)
    SnapshotTable.deleteWhere(spark, base, Seq(Bound("k", Some(3L), Some(3L))))
    SnapshotTable.deleteWhere(spark, base, Seq(Bound("k", Some(13L), Some(13L))))
    SnapshotTable.deleteWhere(spark, base, Seq(Bound("k", Some(23L), Some(23L))))
    // null-out grp 0's only non-null contributions: k=10, 20 (k=0 is null);
    // deleting them leaves grp 0 with ONE row whose price_c is NULL
    SnapshotTable.deleteWhere(spark, base, Seq(Bound("k", Some(10L), Some(10L))))
    SnapshotTable.deleteWhere(spark, base, Seq(Bound("k", Some(20L), Some(20L))))
    // appear: a brand-new group value
    SnapshotTable.append(
      spark, base,
      spark.sql("SELECT CAST(1000 AS BIGINT) AS k, CAST(42 AS INT) AS grp, CAST(7 AS BIGINT) AS price_c"))

    SnapshotMv.refresh(spark, mv)
    val got = mvRows(mv)
    assert(got == recompute(SnapshotTable.read(spark, base)))
    assert(!got.exists(_.getInt(0) == 3), "vanished group must leave the view")
    val g0 = got.find(_.getInt(0) == 0).get
    assert(g0.getLong(1) == 1L && g0.isNullAt(2), s"grp 0 must sum to NULL, got $g0")
    assert(got.exists(r => r.getInt(0) == 42 && r.getLong(1) == 1L && r.getLong(2) == 7L))
  }

  test("min/max columns maintain by hybrid refresh: evicted extremes recompute from touched groups only") {
    import org.apache.spark.sql.functions.{col, max, min}
    val base = freshRoot(); val mv = freshRoot() + "/mv"
    SnapshotTable.create(spark, base, fixture(0, 500))
    SnapshotMv.create(
      spark, base, mv, keys = Seq("grp"), sums = Seq("price_c"),
      mins = Seq("k"), maxs = Seq("k", "price_c"))
    def recomputeMm() = SnapshotTable.read(spark, base)
      .filter("grp IS NOT NULL")
      .groupBy("grp")
      .agg(
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_rows"),
        org.apache.spark.sql.functions.sum("price_c").as("price_c"),
        min("k").as("k_min"), max("k").as("k_max"), max("price_c").as("price_c_max"))
      .orderBy("grp").collect().toSeq
    def mvMm() = SnapshotMv.read(spark, mv)
      .select("grp", "n_rows", "price_c", "k_min", "k_max", "price_c_max")
      .orderBy("grp").collect().toSeq
    assert(mvMm() == recomputeMm(), "create materializes the extremes")

    // a delete that EVICTS group maxima (the top k rows of every group):
    // incremental algebra cannot answer this — the hybrid recompute must
    SnapshotTable.deleteWhere(spark, base, Seq(Bound("k", Some(450L), Some(499L))))
    SnapshotMv.refresh(spark, mv)
    assert(mvMm() == recomputeMm(), "evicted maxima recomputed")

    // an update that moves ONLY an extremum: counts and sums over the
    // tracked sum column are unchanged... (price_c changes, so use k's
    // max instead: rewrite rows so count/sum cancel but k_max moves) —
    // a merge replacing each top row with a LOWER k at identical price
    val top = SnapshotTable.read(spark, base)
      .groupBy("grp").agg(max("k").as("k")).join(SnapshotTable.read(spark, base), Seq("grp", "k"))
    SnapshotTable.mergeUpsert(
      spark, base,
      top.select(col("k"), col("grp"), col("price_c")), // replace with itself: cancels fully
      Seq("k"))
    SnapshotMv.refresh(spark, mv)
    assert(mvMm() == recomputeMm(), "a fully-cancelling delta still refreshes min/max groups")

    // a group BORN AND FULLY DELETED within one refresh window must not
    // insert a phantom zero-count row (min/max views skip the zero-cancel
    // filter, so the cancelled delta reaches the merge's unmatched side)
    SnapshotTable.append(spark, base, fixture(5000, 10).selectExpr("k", "CAST(77 AS INT) AS grp", "price_c"))
    SnapshotTable.deleteWhere(spark, base, Seq(Bound("k", Some(5000L), Some(5009L))))
    SnapshotMv.refresh(spark, mv)
    assert(mvMm() == recomputeMm(), "born-and-died group inserted nothing")
    assert(!SnapshotMv.read(spark, mv).filter("grp = 77").collect().nonEmpty)

    // group death and rebirth with extremes
    SnapshotTable.deleteWhere(spark, base, Seq(Bound("grp", Some(3), Some(3))))
    SnapshotMv.refresh(spark, mv)
    assert(mvMm() == recomputeMm() && !mvMm().exists(_.getInt(0) == 3), "group died with its extremes")
    SnapshotTable.append(spark, base, fixture(1000, 20).filter("grp = 3"))
    SnapshotMv.refresh(spark, mv)
    assert(mvMm() == recomputeMm(), "group reborn with fresh extremes")
  }

  test("null grouping keys are excluded; refresh survives base vacuum past old history and a RESTORE") {
    val base = freshRoot(); val mv = freshRoot() + "/mv"
    SnapshotTable.create(
      spark, base,
      fixture(0, 100).withColumn(
        "grp", org.apache.spark.sql.functions.expr("CASE WHEN k % 13 = 0 THEN NULL ELSE grp END")))
    SnapshotMv.create(spark, base, mv, Seq("grp"), Seq("price_c"))
    assert(mvRows(mv) == recompute(SnapshotTable.read(spark, base)))

    SnapshotTable.append(spark, base, fixture(100, 50)) // v2
    SnapshotTable.deleteWhere(spark, base, Seq(Bound("k", Some(0L), Some(19L)))) // v3
    // drop pre-sync history: refresh only needs (synced .. latest]
    SnapshotTable.vacuum(spark, base, keepLast = 3)
    SnapshotMv.refresh(spark, mv)
    assert(mvRows(mv) == recompute(SnapshotTable.read(spark, base)))

    // RESTORE rewinds base state as a NEW commit; the CDC feed computes
    // the full snapshot diff, so the view maintains exactly through it
    SnapshotTable.restore(spark, base, SnapshotMv.syncedVersion(spark, mv) - 1)
    SnapshotMv.refresh(spark, mv)
    assert(mvRows(mv) == recompute(SnapshotTable.read(spark, base)))
  }

  test("a restored or hand-mutated view refuses refresh loudly instead of dropping deltas") {
    val base = freshRoot(); val mv = freshRoot() + "/mv"
    SnapshotTable.create(spark, base, fixture(0, 50))
    SnapshotMv.create(spark, base, mv, Seq("grp"), Seq("price_c"))
    SnapshotTable.append(spark, base, fixture(50, 20))
    SnapshotMv.refresh(spark, mv)
    // rolling the VIEW back desynchronizes it from its recorded batchId:
    // refreshing from there would silently lose the rewound deltas
    SnapshotTable.restore(spark, mv, 2)
    val e = intercept[Exception] { SnapshotMv.refresh(spark, mv) }
    assert(e.getMessage.contains("mutated outside refresh"), e.getMessage)
    // compaction of the view is data-identical and stays transparent —
    // and must actually HAPPEN for this leg to test anything (the
    // one-file aggregate makes compactSmall a commitless no-op, so use
    // the unconditional full compact: same "compact" action)
    val mv2 = freshRoot() + "/mv2"
    SnapshotMv.create(spark, base, mv2, Seq("grp"), Seq("price_c"))
    SnapshotTable.compact(spark, mv2, "grp", 2)
    assert(SnapshotTable.history(spark, mv2).last.action == "compact")
    SnapshotTable.append(spark, base, fixture(70, 10))
    SnapshotMv.refresh(spark, mv2)
    assert(mvRows(mv2) == recompute(SnapshotTable.read(spark, base)))
  }

  test("REFRESH MATERIALIZED VIEW statement routes to refresh") {
    import graft.sinks.SnapshotSql
    val base = freshRoot(); val mv = freshRoot() + "/mv"
    SnapshotTable.create(spark, base, fixture(0, 100))
    SnapshotMv.create(spark, base, mv, Seq("grp"), Seq("price_c"))
    SnapshotSql.register(spark, "sales_by_grp", mv)
    SnapshotTable.append(spark, base, fixture(100, 60))
    SnapshotTable.deleteWhere(spark, base, Seq(Bound("k", Some(0L), Some(29L))))
    SnapshotSql.execute(spark, "REFRESH MATERIALIZED VIEW sales_by_grp")
    assert(mvRows(mv) == recompute(SnapshotTable.read(spark, base)))
  }

  test("a view maintains over a BRANCH base; main's own aggregate is untouched") {
    val root = freshRoot(); val mv = freshRoot() + "/mv"
    SnapshotTable.create(spark, root, fixture(0, 100))
    val dev = SnapshotTable.createBranch(spark, root, "dev")
    // the view's base is the ref-qualified HANDLE — every MV operation
    // (create, CDC-driven refresh, sync tracking) runs in branch isolation
    SnapshotMv.create(spark, dev, mv, Seq("grp"), Seq("price_c"))
    SnapshotTable.append(spark, dev, fixture(100, 40))
    SnapshotTable.deleteWhere(spark, dev, Seq(Bound("k", Some(0L), Some(19L))))
    SnapshotTable.append(spark, root, fixture(500, 7)) // main diverges
    SnapshotMv.refresh(spark, mv)
    assert(mvRows(mv) == recompute(SnapshotTable.read(spark, dev)))
    assert(mvRows(mv) != recompute(SnapshotTable.read(spark, root)))
    assert(SnapshotMv.spec(spark, mv).baseRoot == dev)
  }

  test("streaming ingest composes: sink epochs land, refresh after each epoch tracks exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = freshRoot() + "/base"; val mv = freshRoot() + "/mv"
    val ckpt = Files.createTempDirectory("graft-mv-ckpt").toString
    val ms = MemoryStream[(Long, Int, Long)]
    val q = ms.toDF().toDF("k", "grp", "price_c")
      .writeStream
      .format("snapshot-table")
      .option("path", base)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      ms.addData((1L, 1, 10L), (2L, 2, 20L))
      q.processAllAvailable() // epoch 0 creates the table
      SnapshotMv.create(spark, base, mv, Seq("grp"), Seq("price_c"))
      ms.addData((3L, 1, 30L), (4L, 3, 40L))
      q.processAllAvailable()
      SnapshotMv.refresh(spark, mv)
      assert(mvRows(mv) == recompute(SnapshotTable.read(spark, base)))
      ms.addData((5L, 3, 50L))
      q.processAllAvailable()
      SnapshotMv.refresh(spark, mv)
      assert(mvRows(mv) == recompute(SnapshotTable.read(spark, base)))
      assert(SnapshotMv.read(spark, mv).count() == 3) // grps 1, 2, 3
    } finally q.stop()
  }

  test("definition hygiene: bad columns refuse; duplicate create refuses; read projects declared columns") {
    val base = freshRoot(); val mv = freshRoot() + "/mv"
    SnapshotTable.create(spark, base, fixture(0, 20))
    assert(intercept[Exception](
      SnapshotMv.create(spark, base, mv, Seq("nope"), Seq("price_c"))).getMessage.contains("nope"))
    assert(intercept[Exception](
      SnapshotMv.create(spark, base, mv, Seq("grp"), Seq("__nn_x"))).getMessage.contains("internal"))
    SnapshotMv.create(spark, base, mv, Seq("grp"), Seq("price_c"))
    assert(intercept[Exception](
      SnapshotMv.create(spark, base, mv, Seq("grp"), Seq("price_c"))).getMessage.nonEmpty)
    assert(SnapshotMv.read(spark, mv).columns.toSeq == Seq("grp", "n_rows", "price_c"))
    val sp = SnapshotMv.spec(spark, mv)
    assert(sp.keys == Seq("grp") && sp.sums == Seq("price_c") && sp.baseRoot == base)
    // the backing table carries the hidden non-null counter
    assert(SnapshotTable.read(spark, mv).columns.contains("__nn_price_c"))
  }

  test("refresh after a full-table COW rewrite reads O(changed rows): write-time capture, no except-all diff") {
    val base = freshRoot(); val mv = freshRoot() + "/mv"
    SnapshotTable.create(spark, base, fixture(0, 2000))
    SnapshotMv.create(spark, base, mv, keys = Seq("grp"), sums = Seq("price_c"))
    // a merge whose source hits EVERY file — the rewrite-heavy COW shape
    // that made the old diff read ~2× the table per refresh
    SnapshotTable.mergeUpsert(
      spark, base,
      fixture(0, 2000).filter("k % 2 = 0")
        .withColumn("price_c", org.apache.spark.sql.functions.expr("coalesce(price_c, 0) + 5")),
      Seq("k"))
    // the commit captured its own delta...
    val m = SnapshotTable.readManifest(spark, base, SnapshotTable.latestVersion(spark, base).get)
    assert(m.cdc.isDefined && m.cdc.get.chDir.isDefined && m.cdc.get.insEntries.nonEmpty)
    // ...so the refresh's change feed plans NO except-all over the table
    val ch = SnapshotTable.changesBetween(spark, base, SnapshotMv.syncedVersion(spark, mv),
      SnapshotTable.latestVersion(spark, base).get)
    assert(ch.queryExecution.analyzed.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Except => e
    }.isEmpty, "rewrite-heavy refresh must read the capture, not diff the table")
    SnapshotMv.refresh(spark, mv)
    assert(mvRows(mv) == recompute(SnapshotTable.read(spark, base)))
  }

  test("an mv-sync commit records its own publish time, not its base's") {
    val base = freshRoot(); val mv = freshRoot() + "/mv"
    SnapshotTable.create(spark, base, fixture(0, 200))
    SnapshotMv.create(spark, base, mv, keys = Seq("grp"), sums = Seq("price_c"))
    SnapshotTable.compact(spark, base, "k", 2) // data-identical: the refresh delta is empty
    Thread.sleep(5)
    val clock = System.currentTimeMillis()
    SnapshotMv.refresh(spark, mv)
    val sync = SnapshotTable.history(spark, mv).last
    assert(sync.action == "mv-sync")
    assert(sync.ts >= clock, s"mv-sync published at ${sync.ts}, before the refresh started at $clock")
  }
}
