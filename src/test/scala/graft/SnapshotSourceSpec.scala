package graft

import java.nio.file.Files

import graft.sinks.SnapshotTable
import org.apache.spark.sql.streaming.Trigger

/** The snapshot table as a Structured Streaming SOURCE (offsets = table
  * versions): initial snapshot, per-commit append batches, compaction
  * invisibility, checkpoint recovery, and filter pushdown into the batch
  * scan. */
class SnapshotSourceSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String = Files.createTempDirectory("graft-ssrc").toString

  private def batch(xs: (Long, String)*) = xs.toDF("k", "s")

  test("streams the initial snapshot, then exactly the appended commits; compaction is invisible") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, batch(1L -> "a", 2L -> "b", 3L -> "c"))
    val stream = spark.readStream.format("snapshot-table").option("path", root).load()
    val q = stream.writeStream
      .format("memory")
      .queryName("snap_stream")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("snap_stream").count() == 3, "first batch = full snapshot")
      SnapshotTable.append(spark, root, batch(4L -> "d", 5L -> "e"))
      q.processAllAvailable()
      assert(spark.table("snap_stream").count() == 5)
      // compaction rewrites every file but is data-identical: nothing re-emits
      SnapshotTable.compact(spark, root, "k", nFiles = 1)
      q.processAllAvailable()
      assert(spark.table("snap_stream").count() == 5, "compaction must not re-emit")
      SnapshotTable.append(spark, root, batch(6L -> "f"))
      q.processAllAvailable()
      assert(
        spark.table("snap_stream").select("k").as[Long].collect().sorted.toSeq ==
          Seq(1L, 2L, 3L, 4L, 5L, 6L),
        "each row exactly once")
    } finally q.stop()
  }

  test("catalog identifier streaming: spark.readStream.table drives the DSv2 micro-batch leg with the same semantics") {
    val wh = Files.createTempDirectory("graft-ssrc-cat").toString
    spark.conf.set("spark.sql.catalog.gstream", classOf[graft.sinks.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstream.warehouse", wh)
    val root = wh + "/ns/t"
    SnapshotTable.create(spark, root, batch(1L -> "a", 2L -> "b", 3L -> "c")) // v1
    val q = spark.readStream
      .option("maxFilesPerTrigger", "1") // admission control rides the read options
      .table("gstream.ns.t")
      .writeStream.format("memory").queryName("cat_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      assert(spark.table("cat_stream").count() == 3, "first batches = full snapshot")
      // appends flow; compaction is invisible; RESTORE adds nothing —
      // the same semantics as the path-based source, shared offsets
      SnapshotTable.append(spark, root, batch(4L -> "d", 5L -> "e")) // v2
      q.processAllAvailable()
      assert(spark.table("cat_stream").count() == 5)
      SnapshotTable.compact(spark, root, "k", nFiles = 1) // v3
      q.processAllAvailable()
      assert(spark.table("cat_stream").count() == 5, "compaction must not re-emit")
      SnapshotTable.restore(spark, root, 2) // v4: restore-safe — adds nothing
      q.processAllAvailable()
      assert(spark.table("cat_stream").count() == 5, "restore must not re-emit")
      SnapshotTable.append(spark, root, batch(6L -> "f")) // v5
      q.processAllAvailable()
      assert(
        spark.table("cat_stream").select("k").as[Long].collect().sorted.toSeq ==
          Seq(1L, 2L, 3L, 4L, 5L, 6L),
        "each row exactly once across append/compact/restore")
      // rate limiting actually engaged: snapshot + appends arrived as
      // single-file micro-batches, never one bulk batch
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
        q.recentProgress.map(_.numInputRows).mkString(","))
    } finally q.stop()
    // readChangeFeed points at the path source (the refusal surfaces on
    // the stream thread — drain to observe it)
    val cdcQ = spark.readStream.option("readChangeFeed", "true").table("gstream.ns.t")
      .writeStream.format("memory").queryName("cat_cdc").start()
    val e = intercept[Exception](cdcQ.processAllAvailable())
    try {
      def all(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: all(x.getCause))
      assert(all(e).exists(m => m != null && m.contains("path-based")), e.getMessage)
    } finally cdcQ.stop()
  }

  test("RESTORE mid-stream: re-listed files never re-emit (a file appends once in table history); later appends still flow") {
    val root = freshRoot()
    // two range-clustered files: the delete below drops one WHOLLY
    SnapshotTable.create(
      spark, root,
      spark.range(20).selectExpr("id AS k", "concat('v', id) AS s")
        .repartitionByRange(2, org.apache.spark.sql.functions.col("k"))
        .sortWithinPartitions("k")) // v1
    val q = spark.readStream.format("snapshot-table").option("path", root).load()
      .writeStream.format("memory").queryName("snap_restore")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      assert(spark.table("snap_restore").count() == 20)
      // v2: whole-file drop — adds nothing, stream emits nothing
      SnapshotTable.deleteWhere(spark, root, Seq(SnapshotTable.Bound("k", Some(10L), Some(19L))))
      q.processAllAvailable()
      assert(spark.table("snap_restore").count() == 20)
      // v3: RESTORE re-lists the dropped file — its rows were already
      // emitted at v1; re-emitting them would duplicate an exactly-once
      // consumer's stream
      SnapshotTable.restore(spark, root, 1)
      q.processAllAvailable()
      val ks = spark.table("snap_restore").select("k").as[Long].collect().toSeq
      assert(ks.size == 20 && ks.distinct.size == 20,
        s"restore-re-listed files must not re-emit: got ${ks.size} rows, ${ks.distinct.size} distinct")
      // fresh appends after the restore still flow
      SnapshotTable.append(spark, root, batch(100L -> "x"))
      q.processAllAvailable()
      assert(spark.table("snap_restore").count() == 21)
      assert(spark.table("snap_restore").select("k").as[Long].collect().count(_ == 100L) == 1)

      // a restore AFTER VACUUM reclaimed early manifests must not crash
      // the stream (the ever-live sweep walks only RETAINED versions —
      // sound: the restore target itself must be retained)
      SnapshotTable.append(spark, root, batch(101L -> "y")) // v5
      SnapshotTable.createTag(spark, root, "pin4", Some(4))
      Thread.sleep(15)
      SnapshotTable.vacuum(spark, root, keepLast = 2, minAgeMs = 5) // v1..v3 manifests go
      SnapshotTable.restore(spark, root, 4) // v6: re-lists v4's files
      q.processAllAvailable()
      val ks2 = spark.table("snap_restore").select("k").as[Long].collect().toSeq
      assert(ks2.count(_ == 101L) == 1 && ks2.size == ks2.distinct.size,
        s"restore over vacuumed history must neither crash nor duplicate: $ks2")
    } finally q.stop()
  }

  test("checkpoint recovery: a restarted query resumes at its version offset") {
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft-ssrc-ckpt").toString
    val out = Files.createTempDirectory("graft-ssrc-out").toString
    SnapshotTable.create(spark, root, batch(1L -> "a"))
    // memory sink can't recover; a file sink exercises the real
    // checkpointed-offset path
    def start() =
      spark.readStream
        .format("snapshot-table")
        .option("path", root)
        .load()
        .writeStream
        .format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0))
        .start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(spark.read.parquet(out).count() == 1)
    } finally q1.stop()
    // two commits while the stream is down
    SnapshotTable.append(spark, root, batch(2L -> "b"))
    SnapshotTable.append(spark, root, batch(3L -> "c"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      // the recovered stream emitted ONLY the missed commits: total is
      // exactly-once, no re-emitted history
      assert(
        spark.read.parquet(out).select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L),
        "restart must resume at the checkpointed version, not re-emit history")
    } finally q2.stop()
  }

  test("Trigger.AvailableNow drains the rate-limited backlog, terminates, and restarts exactly-once") {
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft-ssrc-anckpt").toString
    val out = Files.createTempDirectory("graft-ssrc-anout").toString
    // 3 commits × multiple files: a real backlog for the rate limit to split
    SnapshotTable.create(spark, root,
      spark.range(100).selectExpr("id AS k", "concat('v', id) AS s").repartition(3))
    SnapshotTable.append(spark, root,
      spark.range(100, 200).selectExpr("id AS k", "concat('v', id) AS s").repartition(3))
    SnapshotTable.append(spark, root,
      spark.range(200, 300).selectExpr("id AS k", "concat('v', id) AS s").repartition(3))
    def drain(): Int = {
      val q = spark.readStream
        .format("snapshot-table")
        .option("path", root)
        .option("maxFilesPerTrigger", "2")
        .load()
        .writeStream
        .format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      // the defining property: the query STOPS ON ITS OWN once the
      // backlog captured at start is drained (a ProcessingTime query
      // would run forever; Once would take one capped batch and quit
      // with backlog remaining)
      assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
      q.recentProgress.count(_.numInputRows > 0)
    }
    val batches1 = drain()
    assert(spark.read.parquet(out).count() == 300, "the whole backlog drained")
    assert(batches1 >= 2, s"maxFilesPerTrigger must split the drain into capped batches, got $batches1")
    // no backlog: a fresh AvailableNow run terminates having emitted nothing
    drain()
    assert(spark.read.parquet(out).count() == 300, "an already-drained source re-emits nothing")
    // commits land while no query runs; the next run picks up exactly those
    SnapshotTable.append(spark, root,
      spark.range(300, 350).selectExpr("id AS k", "concat('v', id) AS s"))
    drain()
    assert(
      spark.read.parquet(out).select("k").as[Long].collect().sorted.toSeq == (0L until 350L),
      "restarted drain emits exactly the missed commits, each row once")
  }

  test("latestOffset honors the ENGINE's ReadLimit over the constructor options") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val root = freshRoot()
    SnapshotTable.create(spark, root,
      spark.range(100).selectExpr("id AS k", "concat('v', id) AS s").repartition(4))
    SnapshotTable.append(spark, root,
      spark.range(100, 200).selectExpr("id AS k", "concat('v', id) AS s").repartition(4))
    val src = new graft.sinks.SnapshotSource(spark, root, None, maxFilesPerTrigger = Some(2))
    // Trigger.Once passes allAvailable and expects the WHOLE backlog in
    // one batch — the configured cap must not truncate the drain: the
    // returned offset is the uncapped whole-version form
    val all = src.latestOffset(src.initialOffset(), ReadLimit.allAvailable())
    assert(all.json().trim == "2", s"allAvailable must cover the full backlog, got ${all.json()}")
    // the default limit echoes the configured cap and walks incrementally:
    // a positional offset two files into the initial snapshot
    val step = src.latestOffset(src.initialOffset(), src.getDefaultReadLimit)
    assert(
      step.json().contains("\"i\":2") && step.json().contains("\"snap\":true"),
      s"the default limit must cap the first batch at 2 files, got ${step.json()}")
  }

  test("a MID-LIST positional start under ReadLimit.allAvailable stays positional: no snapshot-tail loss") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.streaming.runtime.SerializedOffset
    val root = freshRoot()
    SnapshotTable.create(
      spark, root, spark.range(100).selectExpr("id AS k", "concat('v', id) AS s").repartition(4)) // v1: 4 files
    SnapshotTable.append(
      spark, root, spark.range(100, 150).selectExpr("id AS k", "concat('v', id) AS s").repartition(2)) // v2: 2 files
    def nFiles(df: org.apache.spark.sql.DataFrame): Int = df.queryExecution.logical
      .collectFirst { case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation] }
      .get.location.listFiles(Nil, Nil).map(_.files.size).sum
    // a killed rate-limited run checkpointed this MID-SNAPSHOT position
    // (the initial snapshot is at latest=v2: 6 files, 2 consumed)...
    val src = new graft.sinks.SnapshotSource(spark, root, None, maxFilesPerTrigger = Some(2))
    val mid = src.latestOffset(src.initialOffset(), src.getDefaultReadLimit)
    assert(mid.json().contains("\"v\":2") && mid.json().contains("\"i\":2") && mid.json().contains("\"snap\":true"))
    // ...then the query restarts with the rate-limit options REMOVED, so
    // the engine passes allAvailable. A legacy LongOffset end here would
    // route getBatch to (v+1)..latest deltas — i.e. NOTHING — silently
    // dropping snapshot files 2..6: the end must stay POSITIONAL
    val end1 = src.latestOffset(mid, ReadLimit.allAvailable())
    assert(end1.json().trim.startsWith("{"), s"mid-list start must keep a positional end, got ${end1.json()}")
    val batch1 = src.getBatch(Some(SerializedOffset(mid.json())), SerializedOffset(end1.json()))
    assert(nFiles(batch1) == 4, "exactly the unconsumed snapshot tail")
    // drained: latestOffset is a fixpoint, never a spurious legacy downgrade
    assert(src.latestOffset(end1, ReadLimit.allAvailable()).json() == end1.json())

    // same guard mid-DELTA-list: consume v3's 4-file delta partially under
    // the cap, then go unbounded
    SnapshotTable.append(
      spark, root, spark.range(150, 200).selectExpr("id AS k", "concat('v', id) AS s").repartition(4)) // v3: 4 files
    val mid3 = src.latestOffset(end1, src.getDefaultReadLimit)
    assert(mid3.json().contains("\"v\":3") && mid3.json().contains("\"i\":2") && mid3.json().contains("\"snap\":false"))
    val end3 = src.latestOffset(mid3, ReadLimit.allAvailable())
    assert(end3.json().trim.startsWith("{"), s"mid-delta start must keep a positional end, got ${end3.json()}")
    val batch3 = src.getBatch(Some(SerializedOffset(mid3.json())), SerializedOffset(end3.json()))
    assert(nFiles(batch3) == 2, "exactly the unconsumed delta tail of v3")
    // once the list IS fully consumed, legacy whole-version semantics are
    // exact again (keeps old checkpoints upgradeable)
    SnapshotTable.append(
      spark, root, spark.range(200, 220).selectExpr("id AS k", "concat('v', id) AS s").repartition(2)) // v4: 2 files
    val end4 = src.latestOffset(end3, ReadLimit.allAvailable())
    assert(end4.json().trim == "4", s"fully-consumed list may go legacy, got ${end4.json()}")
    val batch4 = src.getBatch(Some(SerializedOffset(end3.json())), SerializedOffset(end4.json()))
    assert(nFiles(batch4) == 2, "the v4 delta exactly")
  }

  test("batch frames plan through the manifest FileIndex: filters prune files inside a micro-batch") {
    import org.apache.spark.sql.catalyst.expressions.{GreaterThan, Literal}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val root = freshRoot()
    SnapshotTable.create(
      spark,
      root,
      spark.range(1000).selectExpr("id AS k", "concat('v', id) AS s"))
    SnapshotTable.compact(spark, root, "k", nFiles = 8)
    // the DataFrame a micro-batch executes is getBatch's: its relation
    // must be a HadoopFsRelation over OUR FileIndex, and the pushed
    // filters FileSourceStrategy hands that index at planning time must
    // prune — driven directly here because an isStreaming frame can't run
    // as a standalone batch query
    val src = new graft.sinks.SnapshotSource(spark, root, None)
    val batch = src.getBatch(None, org.apache.spark.sql.execution.streaming.runtime.LongOffset(2L))
    val lr = batch.queryExecution.logical
      .collectFirst { case l: LogicalRelation => l }
      .getOrElse(fail("getBatch frame is not a LogicalRelation"))
    assert(lr.isStreaming, "micro-batch frames must be streaming-tagged")
    val rel = lr.relation.asInstanceOf[HadoopFsRelation]
    assert(rel.location.isInstanceOf[graft.sinks.SnapshotFileIndex])
    val k = lr.output.find(_.name == "k").get
    val pruned = rel.location.listFiles(Nil, Seq(GreaterThan(k, Literal(874L))))
    assert(pruned.map(_.files.size).sum == 1, s"k > 874 lives in exactly one clustered file: $pruned")
    val full = rel.location.listFiles(Nil, Nil)
    assert(full.map(_.files.size).sum == 8)
  }

  test("maxFilesPerTrigger: the backlog splits across micro-batches, same rows exactly once") {
    val root = freshRoot()
    // 8-file snapshot + two appends while the stream is down = a backlog
    SnapshotTable.create(
      spark, root, spark.range(80).selectExpr("id AS k", "concat('v', id) AS s").repartition(8))
    SnapshotTable.append(spark, root, batch(100L -> "a", 101L -> "b"))
    SnapshotTable.append(spark, root, batch(102L -> "c"))
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val total = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream
      .format("snapshot-table")
      .option("path", root)
      .option("maxFilesPerTrigger", "2")
      .load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.select("k").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
        batchSizes.synchronized { batchSizes += rows.length.toLong; total ++= rows }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      // every row exactly once across ALL batches
      assert(total.sorted.toSeq == ((0L until 80L) ++ Seq(100L, 101L, 102L)).sorted)
      // and the backlog really split: the 8-file snapshot alone needs ≥4
      // two-file batches
      val nonEmpty = batchSizes.filter(_ > 0)
      assert(nonEmpty.size >= 5, s"expected ≥5 rate-limited batches, got sizes=$batchSizes")
      // a live append keeps flowing under the cap
      SnapshotTable.append(spark, root, batch(103L -> "d"))
      q.processAllAvailable()
      assert(total.sorted.toSeq == ((0L until 80L) ++ Seq(100L, 101L, 102L, 103L)).sorted)
    } finally q.stop()
  }

  test("rate-limited checkpoint restart resumes mid-version at the file offset") {
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft-ssrc-ckpt2").toString
    val out = Files.createTempDirectory("graft-ssrc-out2").toString
    SnapshotTable.create(
      spark, root, spark.range(60).selectExpr("id AS k", "concat('v', id) AS s").repartition(6))
    def start(stopAfterBatches: Option[Int]) = {
      val q = spark.readStream
        .format("snapshot-table")
        .option("path", root)
        .option("maxFilesPerTrigger", "1")
        .load()
        .writeStream
        .format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0))
        .start()
      q
    }
    def landed(): Long =
      scala.util.Try(spark.read.parquet(out).count()).getOrElse(0L)
    // run only PART of the snapshot: stop after a few 1-file batches land
    val q1 = start(Some(3))
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline && landed() < 20) Thread.sleep(100)
      assert(landed() >= 20, "some batches must land before the stop")
    } finally q1.stop()
    val mid = landed()
    assert(mid < 60 || mid == 60, s"mid=$mid") // usually mid-version; tolerate a fast machine
    // restart: the stream resumes at the checkpointed (version, fileIndex)
    // and the total lands exactly-once
    val q2 = start(None)
    try {
      q2.processAllAvailable()
      assert(
        spark.read.parquet(out).select("k").as[Long].collect().sorted.toSeq ==
          (0L until 60L).toSeq,
        "restart must resume at the file offset: every row exactly once")
    } finally q2.stop()
  }

  test("rate limiting composes with startVersion=1 (position space includes version 0)") {
    val root = freshRoot()
    SnapshotTable.create(
      spark, root, spark.range(30).selectExpr("id AS k", "concat('v', id) AS s").repartition(3))
    SnapshotTable.append(spark, root, batch(100L -> "a"))
    val total = scala.collection.mutable.ArrayBuffer.empty[Long]
    // startVersion=1 + rate limiting: the walk starts at Position(0, …) —
    // must NOT try to read a version-0 manifest (regression)
    val q = spark.readStream
      .format("snapshot-table")
      .option("path", root)
      .option("startVersion", "1")
      .option("maxFilesPerTrigger", "1")
      .load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        total.synchronized { total ++= df.select("k").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect() }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(total.sorted.toSeq == ((0L until 30L) :+ 100L).sorted, s"got ${total.sorted}")
    } finally q.stop()
  }

  test("maxFilesPerTrigger alone is not collapsed by unsized files (no byte budget configured)") {
    val root = freshRoot()
    SnapshotTable.create(
      spark, root, spark.range(60).selectExpr("id AS k", "concat('v', id) AS s").repartition(6))
    // simulate a pre-bytes manifest: republish the current state with all
    // byte sizes unrecorded
    val cur = SnapshotTable.history(spark, root).last
    SnapshotTable.publish(
      spark, root,
      cur.copy(version = cur.version + 1, files = cur.files.map(_.copy(bytes = -1L)), ts = 0L))
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream
      .format("snapshot-table")
      .option("path", root)
      .option("maxFilesPerTrigger", "3")
      .load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes.synchronized { sizes += df.count() }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(sizes.sum == 60)
      // 6 files at 3 per trigger = exactly 2 non-empty batches, NOT 6
      // one-file batches (the unsized-bytes saturation must only gate a
      // CONFIGURED byte budget)
      assert(sizes.count(_ > 0) == 2, s"two 3-file batches expected: $sizes")
    } finally q.stop()
  }

  test("maxBytesPerTrigger caps batches by manifest-recorded size, always shipping >=1 file") {
    val root = freshRoot()
    SnapshotTable.create(
      spark, root, spark.range(40).selectExpr("id AS k", "concat('v', id) AS s").repartition(4))
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream
      .format("snapshot-table")
      .option("path", root)
      .option("maxBytesPerTrigger", "1") // smaller than any file: 1 file per batch
      .load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes.synchronized { sizes += df.count() }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(sizes.filter(_ > 0).size == 4, s"one file per batch under a tiny byte budget: $sizes")
      assert(sizes.sum == 40)
    } finally q.stop()
  }

  test("readChangeFeed: the streamed CDC feed over a DML cycle equals batch changesBetween") {
    val root = freshRoot()
    import org.apache.spark.sql.functions.col
    val src = spark.range(300).selectExpr(
      "id AS k",
      "add_months(DATE'1995-01-15', CAST(id % 6 AS INT)) AS d",
      "(id * 13) % 997 AS price_c")
    SnapshotTable.create(
      spark, root, src.repartitionByRange(4, col("d")).sortWithinPartitions("d")) // v1
    SnapshotTable.append(spark, root, src.filter("k < 10").withColumn("k", col("k") + 1000)) // v2
    SnapshotTable.deleteWhere(
      spark, root, Seq(SnapshotTable.Bound("d", Some("1995-02-01"), Some("1995-03-31")))) // v3
    SnapshotTable.updateWhere(
      spark, root, Seq(SnapshotTable.Bound("k", Some(0L), Some(49L))),
      Map("price_c" -> (col("price_c") + 5))) // v4
    SnapshotTable.mergeUpsertMor(
      spark, root, src.filter("k % 41 = 0").withColumn("price_c", col("price_c") * 2), Seq("k")) // v5 (merge-on-read)
    val q = spark.readStream
      .format("snapshot-table")
      .option("path", root)
      .option("readChangeFeed", "true")
      .load()
      .writeStream
      .format("memory")
      .queryName("cdc_feed")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "d", "price_c", "_change_type", "_commit_version")
          .collect().map(_.toString).sorted.toSeq
      val streamed = canon(spark.table("cdc_feed"))
      val batchCdc = canon(SnapshotTable.changesBetween(spark, root, 0, 5))
      assert(streamed == batchCdc, s"stream(${streamed.size}) != batch(${batchCdc.size})")
      assert(streamed.nonEmpty)
      // creation surfaced as v1 inserts (startingVersion=0 semantics)
      assert(spark.table("cdc_feed").filter("_commit_version = 1 AND _change_type = 'insert'").count() == 300)
      // a LIVE commit keeps flowing through the feed
      SnapshotTable.deleteWhereMor(
        spark, root, Seq(SnapshotTable.Bound("k", Some(200L), Some(249L))))
      q.processAllAvailable()
      val after = canon(spark.table("cdc_feed"))
      val batchAfter = canon(SnapshotTable.changesBetween(spark, root, 0, 6))
      assert(after == batchAfter, "live mor-delete must stream its mask-delta deletes")
    } finally q.stop()
    // materialized feed ranges are reclaimed once their history ages out
    val deleted = SnapshotTable.vacuum(spark, root, keepLast = 1)
    assert(deleted.exists(_.startsWith("_cdc/")), s"stale _cdc ranges should vacuum: $deleted")
  }

  test("startVersion option skips history; DML commits re-emit only rewritten files' rows") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, batch((1L to 8L).map(i => i -> s"v$i"): _*).repartition(4)) // v1, 4 files
    SnapshotTable.append(spark, root, batch(9L -> "v9")) // v2
    // startVersion=2: the stream begins with v2's data only
    val stream = spark.readStream
      .format("snapshot-table")
      .option("path", root)
      .option("startVersion", "2")
      .load()
    val q = stream.writeStream
      .format("memory")
      .queryName("snap_sv")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("snap_sv").select("k").as[Long].collect().toSeq == Seq(9L))
      // a delete that rewrites one of the four v1 files re-emits that
      // file's SURVIVORS (ignoreChanges semantics), nothing else
      SnapshotTable.deleteWhere(spark, root, Seq(SnapshotTable.Bound("k", Some(1L), Some(1L))))
      q.processAllAvailable()
      val got = spark.table("snap_sv").select("k").as[Long].collect().toSet - 9L
      assert(!got.contains(1L), "deleted row must not re-emit")
      assert(got.size < 8, s"only the rewritten file's survivors re-emit, got $got")
    } finally q.stop()
  }

  test("SINK maintenance loop: compactEvery bounds a 50-epoch stream's file count with result identity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot() + "/t"
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("k", "s")
      .writeStream
      .format("snapshot-table")
      .option("path", root)
      .option("compactEvery", "10")
      .option("checkpointLocation", Files.createTempDirectory("graft-sink-cmp").toString)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      // epoch ids 0..50: the final id lands on the compaction boundary,
      // so the stream ENDS bin-packed (mid-stream the trailing <N epochs
      // ride uncompacted — bounded by compactEvery, never the epoch count)
      (0 to 50).foreach { i =>
        ms.addData((i.toLong, s"v$i")); q.processAllAvailable()
      }
      // every row exactly once through the epochs AND the compactions
      assert(
        SnapshotTable.read(spark, root).orderBy("k").as[(Long, String)].collect().toSeq ==
          (0 to 50).map(i => i.toLong -> s"v$i"))
      val h = SnapshotTable.history(spark, root)
      assert(h.count(_.action == "compact") >= 5, s"periodic compactions ran: ${h.map(_.action)}")
      // the trickle's total bytes fit ONE 128 MB target file: the final
      // live file count is ceil(bytes/target) = 1, not the epoch count
      val live = h.last.files
      assert(live.size == 1, s"51 one-row epochs must end bin-packed, got ${live.size} files")
      // and a STREAM over the sink's table never re-emits the compaction
      // churn (compaction commits are data-identical by construction)
      val out = spark.readStream.format("snapshot-table").option("path", root).load()
        .writeStream.format("memory").queryName("cmp_loop_readback")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      try {
        out.processAllAvailable()
        assert(spark.table("cmp_loop_readback").count() == 51)
      } finally out.stop()
    } finally q.stop()
  }

  test("SINK: writeStream.format(snapshot-table) appends exactly-once; upsertKeys merges per epoch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // plain append sink: creates the table on epoch 0, one commit per batch
    val appendRoot = freshRoot() + "/t"
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("k", "s")
      .writeStream
      .format("snapshot-table")
      .option("path", appendRoot)
      .option("checkpointLocation", Files.createTempDirectory("graft-sink-ck").toString)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      ms.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      ms.addData((3L, "c")); q.processAllAvailable()
      assert(
        SnapshotTable.read(spark, appendRoot).orderBy("k").as[(Long, String)].collect().toSeq ==
          Seq(1L -> "a", 2L -> "b", 3L -> "c"))
      val h = SnapshotTable.history(spark, appendRoot)
      assert(h.map(_.action).forall(_ == "append") && h.flatMap(_.batchId) == Seq(0L, 1L),
        s"epoch ids must ride the manifests: ${h.map(c => (c.action, c.batchId))}")
      // the stable query id rides as the txn appId (one id across epochs):
      // two path-sink queries into one table can never dedupe each other
      assert(h.flatMap(_.appId).distinct.size == 1 && h.forall(_.appId.isDefined),
        s"the query id must ride the path sink's commits: ${h.map(_.appId)}")
    } finally q.stop()
    // upsert sink: each micro-batch MERGEs by key — last write per key wins
    val upsertRoot = freshRoot() + "/u"
    SnapshotTable.create(spark, upsertRoot, batch(1L -> "a", 2L -> "b"))
    val ms2 = MemoryStream[(Long, String)]
    val q2 = ms2.toDF().toDF("k", "s")
      .writeStream
      .format("snapshot-table")
      .option("path", upsertRoot)
      .option("upsertKeys", "k")
      .option("checkpointLocation", Files.createTempDirectory("graft-sink-ck2").toString)
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      ms2.addData((2L, "b2"), (3L, "c")); q2.processAllAvailable()
      ms2.addData((3L, "c2")); q2.processAllAvailable()
      assert(
        SnapshotTable.read(spark, upsertRoot).orderBy("k").as[(Long, String)].collect().toSeq ==
          Seq(1L -> "a", 2L -> "b2", 3L -> "c2"))
      assert(SnapshotTable.history(spark, upsertRoot).count(_.action == "merge") == 2)
    } finally q2.stop()
    // refusals: Complete mode and partitionBy
    val e = intercept[Exception] {
      MemoryStream[(Long, String)].toDF().toDF("k", "s")
        .groupBy("k").count()
        .writeStream
        .format("snapshot-table")
        .option("path", freshRoot() + "/x")
        .option("checkpointLocation", Files.createTempDirectory("graft-sink-ck3").toString)
        .outputMode("complete")
        .start()
    }
    assert(e.getMessage.contains("Complete"), e.getMessage)
  }

  test("exactly-once identity is STRICT (appId, batchId): no writer ever adopts another's epoch") {
    val root = freshRoot() + "/t"
    // writer A (appId-less: foreachBatch/batch shape) lands epoch 0
    SnapshotTable.appendBatchExactlyOnce(spark, root, batch(1L -> "a"), batchId = 0L)
    // an appId-carrying stream's epoch 0 must LAND, not adopt A's commit
    SnapshotTable.appendBatchExactlyOnce(spark, root, batch(2L -> "b"), 0L, Some("qX"))
    // ...and replay exactly-once against ITS OWN commit
    val vX = SnapshotTable.latestVersion(spark, root).get
    assert(SnapshotTable.appendBatchExactlyOnce(spark, root, batch(2L -> "b"), 0L, Some("qX")) == vX)
    // a DIFFERENT stream's epoch 0 lands too; the appId-less writer's
    // replay still no-ops against its own None commit
    SnapshotTable.appendBatchExactlyOnce(spark, root, batch(3L -> "c"), 0L, Some("qY"))
    assert(SnapshotTable.appendBatchExactlyOnce(spark, root, batch(1L -> "a"), batchId = 0L) == 1)
    assert(SnapshotTable.read(spark, root).count() == 3,
      "three distinct writers' epoch 0, each exactly once")
    assert(SnapshotTable.history(spark, root).flatMap(_.appId).sorted == Seq("qX", "qY"))
  }

  test("a replayed epoch is still a no-op after 30 more commits and returns its original version") {
    val root = freshRoot() + "/t"
    val vAppend = SnapshotTable.appendBatchExactlyOnce(spark, root, batch(1L -> "a"), 5L, Some("q"))
    val vUpsert = SnapshotTable.upsertBatchExactlyOnce(spark, root, batch(1L -> "b"), Seq("k"), 6L, Some("q"))
    (1 to 30).foreach(i => SnapshotTable.append(spark, root, batch(100L + i -> s"x$i")))
    assert(SnapshotTable.appendBatchExactlyOnce(spark, root, batch(1L -> "a"), 5L, Some("q")) == vAppend)
    assert(SnapshotTable.upsertBatchExactlyOnce(spark, root, batch(1L -> "b"), Seq("k"), 6L, Some("q")) == vUpsert)
    assert(SnapshotTable.latestVersion(spark, root).get == vUpsert + 30, "the replays publish nothing")
    assert(SnapshotTable.read(spark, root).filter("k = 1").as[(Long, String)].collect().toSeq == Seq(1L -> "b"))
  }

  test("TWO independent queries into one catalog table: colliding epoch numbers never dedupe across queries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val wh = Files.createTempDirectory("graft-ssink-two").toString
    spark.conf.set("spark.sql.catalog.gtwo", classOf[graft.sinks.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtwo.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtwo.ns")
    spark.sql("CREATE TABLE gtwo.ns.t (k BIGINT, s STRING)")
    def runOnce(from: Long): Unit = {
      val ms = MemoryStream[(Long, String)]
      val q = ms.toDF().toDF("k", "s")
        .writeStream
        .option("checkpointLocation", Files.createTempDirectory("graft-ssink-two-ck").toString)
        .trigger(Trigger.ProcessingTime(0))
        .toTable("gtwo.ns.t")
      try { ms.addData((from, s"v$from"), (from + 1, s"v${from + 1}")); q.processAllAvailable() }
      finally q.stop()
    }
    runOnce(0L) // query A, epoch 0
    runOnce(100L) // query B — ITS OWN epoch 0 must still land
    assert(
      spark.table("gtwo.ns.t").orderBy("k").as[(Long, String)].collect().toSeq ==
        Seq(0L -> "v0", 1L -> "v1", 100L -> "v100", 101L -> "v101"),
      "a second query's epoch 0 must never silently dedupe against the first's")
    // the manifests record DISTINCT writer identities with the same epoch
    val appends = SnapshotTable.history(spark, wh + "/ns/t").filter(_.action == "append")
    assert(appends.map(_.batchId) == Seq(Some(0L), Some(0L)), appends.map(_.batchId).toString)
    assert(appends.flatMap(_.appId).distinct.size == 2,
      s"each query's stable id must ride its commits: ${appends.map(_.appId)}")
  }

  test("streaming epochs honor the declared PARTITIONED BY clustering: file pruning holds on a streamed table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val wh = Files.createTempDirectory("graft-ssink-clu").toString
    spark.conf.set("spark.sql.catalog.gclu", classOf[graft.sinks.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gclu.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gclu.ns")
    spark.sql("CREATE TABLE gclu.ns.t (k BIGINT, s STRING) PARTITIONED BY (k)")
    val ms = MemoryStream[(Long, String)]
    // AQE would rightly coalesce a 1000-row epoch into ONE file (the
    // production right-sizing); pin the partition count so the multi-file
    // clustering is observable at test scale
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val q = ms.toDF().toDF("k", "s")
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-ssink-clu-ck").toString)
      .trigger(Trigger.ProcessingTime(0))
      .toTable("gclu.ns.t")
    try {
      ms.addData((0L until 1000L).map(i => (i, s"v$i")): _*)
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
    val root = wh + "/ns/t"
    val v = SnapshotTable.latestVersion(spark, root).get
    val m = SnapshotTable.readManifest(spark, root, v)
    val dataFiles = m.files.filter(_.rows > 0)
    assert(dataFiles.size >= 3, s"epoch should land range-clustered multi-file output: ${dataFiles.size}")
    // a narrow range prunes to a strict subset of the DATA files — the
    // epoch was range-clustered on k, not written in arrival order
    val plan = SnapshotTable.prunePlan(
      spark, root, v, Seq(SnapshotTable.Bound("k", Some(10L), Some(19L))))
    val keptData = plan.keep.toSet.intersect(dataFiles.map(_.path).toSet)
    assert(keptData.size == 1,
      s"declared clustering must prune a streamed epoch: kept ${keptData.size} of ${dataFiles.size}")
    assert(SnapshotTable.readWhere(
      spark, root, Seq(SnapshotTable.Bound("k", Some(10L), Some(19L)))).count() == 10)
  }

  test("CATALOG SINK: writeStream.toTable stages on executors and lands exactly-once epochs; replay no-ops; ≡ path sink") {
    val wh = Files.createTempDirectory("graft-ssink-cat").toString
    spark.conf.set("spark.sql.catalog.gsink", classOf[graft.sinks.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsink.warehouse", wh)
    val srcRoot = wh + "/ns/src"
    val dstRoot = wh + "/ns/dst"
    SnapshotTable.create(spark, srcRoot, batch(1L -> "a", 2L -> "b", 3L -> "c"))
    val ckpt = Files.createTempDirectory("graft-ssink-cat-ck").toString

    // read a catalog table as a stream, transform, write a catalog table
    // as a stream — the full round trip through identifiers
    def drain(): Unit = {
      val q = spark.readStream
        .table("gsink.ns.src")
        .selectExpr("k", "upper(s) AS s")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable("gsink.ns.dst")
      q.awaitTermination()
    }
    def dst(): Seq[(Long, String)] =
      spark.table("gsink.ns.dst").orderBy("k").as[(Long, String)].collect().toSeq

    drain()
    assert(dst() == Seq(1L -> "A", 2L -> "B", 3L -> "C"), "first drain = transformed snapshot")
    // a RESTARTED query on the same checkpoint has nothing new: zero new rows
    drain()
    assert(dst() == Seq(1L -> "A", 2L -> "B", 3L -> "C"), "replayed/empty epochs must land nothing")
    // incremental source commits flow through as new exactly-once epochs
    SnapshotTable.append(spark, srcRoot, batch(4L -> "d"))
    drain()
    assert(dst() == Seq(1L -> "A", 2L -> "B", 3L -> "C", 4L -> "D"))
    // the manifests record the epoch ids (the exactly-once evidence), and
    // the staged scratch dir is gone after each publish
    val h = SnapshotTable.history(spark, dstRoot).filter(_.action == "append")
    assert(h.forall(_.batchId.isDefined), s"epoch ids must ride the manifests: ${h.map(_.batchId)}")
    val staging = new org.apache.hadoop.fs.Path(dstRoot, "_streamStaging")
    val fs = staging.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(staging) || fs.listStatus(staging).isEmpty, "staging debris must not outlive the epoch")

    // result identity with the path-based V1 sink on the same input
    val pathRoot = Files.createTempDirectory("graft-ssink-path").toString + "/t"
    val q2 = spark.readStream.table("gsink.ns.src").selectExpr("k", "upper(s) AS s")
      .writeStream.format("snapshot-table").option("path", pathRoot)
      .option("checkpointLocation", Files.createTempDirectory("graft-ssink-path-ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(
      SnapshotTable.read(spark, pathRoot).orderBy("k").as[(Long, String)].collect().toSeq == dst(),
      "catalog sink ≡ path sink on the same stream")

    // upsertKeys option rides the writer: per-epoch MERGE by key
    val upCkpt = Files.createTempDirectory("graft-ssink-up-ck").toString
    spark.sql("CREATE TABLE gsink.ns.up (k BIGINT, s STRING)")
    SnapshotTable.append(spark, wh + "/ns/up", batch(1L -> "old", 9L -> "keep"))
    val q3 = spark.readStream.table("gsink.ns.src").selectExpr("k", "upper(s) AS s")
      .writeStream.option("checkpointLocation", upCkpt)
      .option("upsertKeys", "k")
      .trigger(Trigger.AvailableNow()).toTable("gsink.ns.up")
    q3.awaitTermination()
    assert(
      spark.table("gsink.ns.up").orderBy("k").as[(Long, String)].collect().toSeq ==
        Seq(1L -> "A", 2L -> "B", 3L -> "C", 4L -> "D", 9L -> "keep"),
      "upsertKeys must MERGE per epoch through the catalog sink")
    assert(SnapshotTable.history(spark, wh + "/ns/up").exists(_.action == "merge"))

    // Complete mode refuses loudly (the overwrite flag reaches toStreaming)
    val err = intercept[Exception] {
      val qc = spark.readStream.table("gsink.ns.src").groupBy("k").count()
        .writeStream.option("checkpointLocation", Files.createTempDirectory("graft-ssink-c-ck").toString)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow()).toTable("gsink.ns.comp")
      qc.awaitTermination()
    }
    def all(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ all(x.getCause))
    assert(all(err).exists(_.contains("Complete")), err.toString)
  }

  // ── crash-window coverage for the catalog streaming sink: the strict
  // exactly-once claim proven ACROSS a crash, not just a clean replay ──

  /** Injects a crash at one of the two windows the two-phase sink has:
    * `after = false` dies between executor staging and the manifest
    * publish (the epoch never lands); `after = true` dies between the
    * publish and the staging cleanup (the epoch IS committed). Scoped to
    * manifest files whose path contains `substr`, armed once. */
  private final class CrashOnce(substr: String, after: Boolean) extends graft.sinks.CommitStore {
    private val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    override def putIfAbsent(
        fs: org.apache.hadoop.fs.FileSystem,
        path: org.apache.hadoop.fs.Path,
        bytes: Array[Byte]): Unit = {
      val hit = path.toString.contains(substr) && path.getName.matches("v\\d{8}\\.json")
      if (hit && !after && armed.getAndSet(false))
        throw new java.io.IOException("injected crash: died before manifest publish")
      graft.sinks.HadoopCommitStore.putIfAbsent(fs, path, bytes)
      if (hit && after && armed.getAndSet(false))
        throw new java.io.IOException("injected crash: died after publish, before staging cleanup")
    }
  }

  private def allMsgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ allMsgs(x.getCause))

  /** The stable query id Spark records in the checkpoint — the staging
    * namespace and txn appId the sink uses. */
  private def checkpointQueryId(ckpt: String): String = {
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ckpt, "metadata")), "UTF-8")
    """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(meta).get.group(1)
  }

  test("CRASH between staging and publish: restart from the checkpoint lands the epoch exactly once, over killed-run debris") {
    val wh = Files.createTempDirectory("graft-crashA").toString
    spark.conf.set("spark.sql.catalog.gcra", classOf[graft.sinks.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcra.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcra.ns")
    val srcRoot = wh + "/ns/src"
    val dstRoot = wh + "/ns/dst"
    SnapshotTable.create(spark, srcRoot, batch(1L -> "a", 2L -> "b"))
    spark.sql("CREATE TABLE gcra.ns.dst (k BIGINT, s STRING)")
    val ckpt = Files.createTempDirectory("graft-crashA-ck").toString
    def drain(): Unit = {
      val q = spark.readStream.table("gcra.ns.src")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).toTable("gcra.ns.dst")
      q.awaitTermination()
    }
    SnapshotTable.setCommitStore(new CrashOnce("/ns/dst/_manifests", after = false))
    try {
      val e = intercept[Throwable](drain())
      assert(allMsgs(e).exists(_.contains("injected crash")), e.toString)
    } finally SnapshotTable.resetCommitStore()
    // the epoch never landed: readers see nothing, the log holds no append
    assert(spark.table("gcra.ns.dst").count() == 0, "a crashed epoch must be invisible")
    assert(SnapshotTable.history(spark, dstRoot).map(_.action) == Seq("create"))
    // a SIGKILL'd driver leaves its staged epoch behind (the in-process
    // failure above runs abort's best-effort cleanup; a real kill does
    // not) — plant its exact leavings, OLD tokenless file naming included,
    // in the dir the restarted query will re-stage into
    val qid = checkpointQueryId(ckpt)
    val debris = new org.apache.hadoop.fs.Path(
      s"$dstRoot/_streamStaging/$qid/epoch=0/part-0-0.snappy.parquet")
    val fs = debris.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(debris, true)
    out.write("killed-run debris, never a committed row".getBytes("UTF-8")); out.close()
    // restart from the SAME checkpoint: the replayed epoch re-stages
    // beside the debris (per-run token: no name collision), publishes
    // exactly once, and never reads the unreported debris file
    drain()
    assert(
      spark.table("gcra.ns.dst").orderBy("k").as[(Long, String)].collect().toSeq ==
        Seq(1L -> "a", 2L -> "b"),
      "the replayed epoch lands its rows exactly once; debris rows never land")
    // exactly ONE epoch-0 commit (AvailableNow may land a trailing
    // no-data epoch too — empty by construction, checked via row count)
    val appends = SnapshotTable.history(spark, dstRoot).filter(_.action == "append")
    assert(appends.count(_.batchId.contains(0L)) == 1, s"one epoch-0 commit: ${appends.map(_.batchId)}")
    assert(appends.map(_.addedRows).sum == 2L, s"epoch rows land once: ${appends.map(_.addedRows)}")
    // the replay's own post-publish cleanup swept the epoch dir, debris included
    val staging = new org.apache.hadoop.fs.Path(dstRoot, "_streamStaging")
    assert(!fs.exists(staging) || fs.listStatus(staging).isEmpty,
      "staging (incl. killed-run debris) must not outlive the replayed epoch")
  }

  test("CRASH between publish and staging cleanup: the restarted epoch is a no-op — never lands twice") {
    val wh = Files.createTempDirectory("graft-crashB").toString
    spark.conf.set("spark.sql.catalog.gcrb", classOf[graft.sinks.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcrb.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcrb.ns")
    val srcRoot = wh + "/ns/src"
    val dstRoot = wh + "/ns/dst"
    SnapshotTable.create(spark, srcRoot, batch(1L -> "a", 2L -> "b", 3L -> "c"))
    spark.sql("CREATE TABLE gcrb.ns.dst (k BIGINT, s STRING)")
    val ckpt = Files.createTempDirectory("graft-crashB-ck").toString
    def drain(): Unit = {
      val q = spark.readStream.table("gcrb.ns.src")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).toTable("gcrb.ns.dst")
      q.awaitTermination()
    }
    SnapshotTable.setCommitStore(new CrashOnce("/ns/dst/_manifests", after = true))
    try {
      val e = intercept[Throwable](drain())
      assert(allMsgs(e).exists(_.contains("injected crash")), e.toString)
    } finally SnapshotTable.resetCommitStore()
    // the manifest IS the transaction: the epoch landed before the crash
    assert(spark.table("gcrb.ns.dst").count() == 3, "publish preceded the crash — the epoch is committed")
    // restart from the same checkpoint: the replayed epoch finds its
    // (appId, batchId) in the log and must land NOTHING
    drain()
    assert(spark.table("gcrb.ns.dst").count() == 3, "a committed epoch must never land twice")
    val appends = SnapshotTable.history(spark, dstRoot).filter(_.action == "append")
    assert(appends.count(_.batchId.contains(0L)) == 1,
      s"exactly one epoch-0 commit across the crash: ${appends.map(_.batchId)}")
    assert(appends.map(_.addedRows).sum == 3L,
      s"the committed epoch's rows exist once: ${appends.map(_.addedRows)}")
    assert(appends.flatMap(_.appId).distinct == Seq(checkpointQueryId(ckpt)),
      "the replay deduped against ITS OWN identity, not a lucky collision")
    val staging = new org.apache.hadoop.fs.Path(dstRoot, "_streamStaging")
    val fs = staging.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(staging) || fs.listStatus(staging).isEmpty,
      "the replayed no-op epoch still sweeps its staging")
  }

  test("ABANDONED query staging is reclaimed by the age-gated vacuum: dry-run lists it by name, young debris survives") {
    val root = freshRoot() + "/t"
    SnapshotTable.create(spark, root, batch(1L -> "a"))
    SnapshotTable.append(spark, root, batch(2L -> "b"))
    // a query that crashed and was never restarted: its staged epoch is
    // debris no manifest references and no replay will ever sweep
    val dead = new org.apache.hadoop.fs.Path(
      s"$root/_streamStaging/dead-query/epoch=3/part-0-7.snappy.parquet")
    val fs = dead.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(dead, true); out.write("orphan".getBytes("UTF-8")); out.close()
    // age gate: debris younger than minAgeMs is presumed in-flight — kept
    assert(!SnapshotTable.vacuum(spark, root, keepLast = 10, minAgeMs = 3600000L, dryRun = true)
      .exists(_.contains("_streamStaging")), "young staging must be presumed in-flight")
    Thread.sleep(30)
    // dry-run NAMES the reclaimable epoch dir without touching it
    val listed = SnapshotTable.vacuum(spark, root, keepLast = 10, minAgeMs = 10L, dryRun = true)
    assert(listed.contains("_streamStaging/dead-query/epoch=3"), listed.mkString(", "))
    assert(fs.exists(dead), "dry run must not delete")
    // the armed sweep reclaims the epoch AND the emptied query namespace
    val swept = SnapshotTable.vacuum(spark, root, keepLast = 10, minAgeMs = 10L)
    assert(swept.contains("_streamStaging/dead-query/epoch=3"), swept.mkString(", "))
    val stagingRoot = new org.apache.hadoop.fs.Path(root, "_streamStaging")
    assert(!fs.exists(stagingRoot) || fs.listStatus(stagingRoot).isEmpty,
      "emptied staging namespaces go with the sweep")
  }

  test("SCHEMA EVOLUTION across the streaming sinks: an epoch adding a column EVOLVES the table like batch append, on BOTH sinks") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    // path sink: a restarted query whose epochs carry an extra column
    // takes appendBatchExactlyOnce's mergeSchemas route — the table
    // widens, pre-evolution rows read the new column as null
    val root = freshRoot() + "/t"
    SnapshotTable.create(spark, root, batch(1L -> "a"))
    val ms = MemoryStream[(Long, String, Long)]
    val q = ms.toDF().toDF("k", "s", "extra")
      .writeStream
      .format("snapshot-table")
      .option("path", root)
      .option("checkpointLocation", Files.createTempDirectory("graft-sevo-ck").toString)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try { ms.addData((2L, "b", 7L)); q.processAllAvailable() } finally q.stop()
    assert(
      SnapshotTable.read(spark, root).orderBy("k")
        .selectExpr("k", "s", "extra").as[(Long, String, Option[Long])].collect().toSeq ==
        Seq((1L, "a", None), (2L, "b", Some(7L))),
      "the widened epoch must evolve the schema exactly like batch append")

    // catalog sink: an epoch with an extra column takes the SAME
    // appendBatchExactlyOnce → mergeSchemas route — the table evolves
    // (one write contract across surfaces), pre-evolution rows read null
    val wh = Files.createTempDirectory("graft-sevo-cat").toString
    spark.conf.set("spark.sql.catalog.gsev", classOf[graft.sinks.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsev.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gsev.ns")
    spark.sql("CREATE TABLE gsev.ns.t (k BIGINT, s STRING)")
    SnapshotTable.append(spark, wh + "/ns/t", batch(0L -> "seed"))
    val ckpt = Files.createTempDirectory("graft-sevo-cat-ck").toString
    val m2 = MemoryStream[(Long, String, Long)]
    val q2 = m2.toDF().toDF("k", "s", "extra")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable("gsev.ns.t")
    try { m2.addData((1L, "a", 9L)); q2.awaitTermination() } finally q2.stop()
    assert(
      spark.table("gsev.ns.t").orderBy("k")
        .selectExpr("k", "s", "extra").as[(Long, String, Option[Long])].collect().toSeq ==
        Seq((0L, "seed", None), (1L, "a", Some(9L))),
      "a catalog-sink epoch evolves the table exactly like the path sink and batch append")
  }

  test("BRANCH-handle streaming write stages under the PHYSICAL table root — where the vacuum sweep looks") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot() + "/t"
    SnapshotTable.create(spark, root, batch(1L -> "a"))
    SnapshotTable.createBranch(spark, root, "dev")
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("k", "s")
      .writeStream
      .format("graft")
      .option("path", root)
      .option("branch", "dev")
      .option("checkpointLocation", Files.createTempDirectory("graft-brsink-ck").toString)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try { ms.addData((2L, "b")); q.processAllAvailable() } finally q.stop()
    // the epoch landed on the branch, main is untouched
    assert(SnapshotTable.read(spark, SnapshotTable.branchRef(root, "dev"))
      .orderBy("k").as[(Long, String)].collect().toSeq == Seq(1L -> "a", 2L -> "b"))
    assert(SnapshotTable.read(spark, root).count() == 1)
    // staging was namespaced under the PHYSICAL root (swept clean here),
    // never under a literal '<root>#branch=dev' path vacuum cannot see
    assert(!new java.io.File(SnapshotTable.branchRef(root, "dev")).exists(),
      "no literal branch-handle directory may exist on disk")
    val staging = new org.apache.hadoop.fs.Path(root, "_streamStaging")
    val fs = staging.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(staging) || fs.listStatus(staging).isEmpty)
  }

  test("CATALOG SINK fast path: plain-append epochs ADOPT staged files by rename; a renamed-column table falls back to the rewrite") {
    val wh = Files.createTempDirectory("graft-ssink-adopt").toString
    spark.conf.set("spark.sql.catalog.gadopt", classOf[graft.sinks.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gadopt.warehouse", wh)
    val srcRoot = wh + "/ns/src"
    val dstRoot = wh + "/ns/dst"
    SnapshotTable.create(spark, srcRoot, batch(1L -> "a", 2L -> "b"))
    val q1 = spark.readStream.table("gadopt.ns.src").selectExpr("k", "upper(s) AS s")
      .writeStream.option("checkpointLocation", Files.createTempDirectory("gadopt-ck1").toString)
      .trigger(Trigger.AvailableNow()).toTable("gadopt.ns.dst")
    q1.awaitTermination()
    assert(spark.table("gadopt.ns.dst").orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq(1L -> "A", 2L -> "B"))
    // the executor-staged file names (part-<pid>-<tid>-<runToken>) survive
    // in the committed data dir — proof the epoch's bytes were ADOPTED by
    // rename rather than written a second time through writeData (whose
    // files carry Spark's part-00000-<uuid>-c000 names)
    val stagedName = """part-\d+-\d+-[0-9a-f]{8}\.snappy\.parquet""".r
    val v1Files = SnapshotTable.history(spark, dstRoot).filter(_.action == "append").last
      .files.filter(_.rows > 0).map(f => f.path.substring(f.path.lastIndexOf('/') + 1))
    assert(v1Files.nonEmpty && v1Files.forall(n => stagedName.pattern.matcher(n).matches()),
      s"append epoch must adopt staged files by rename, got: $v1Files")
    // rows=0 epochs and staging debris invariants still hold
    val staging2 = new org.apache.hadoop.fs.Path(dstRoot, "_streamStaging")
    val fs2 = staging2.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs2.exists(staging2) || fs2.listStatus(staging2).isEmpty)

    // rename a column on the destination: the next epoch must land under
    // the FROZEN physical parquet name, so the fast path must stand down
    // and the rewrite path (writeData's logical->physical rename) run
    SnapshotTable.renameColumn(spark, dstRoot, "s", "s2")
    SnapshotTable.append(spark, srcRoot, batch(3L -> "c"))
    val q2 = spark.readStream.table("gadopt.ns.src").selectExpr("k", "upper(s) AS s2")
      .writeStream.option("checkpointLocation", Files.createTempDirectory("gadopt-ck2").toString)
      .trigger(Trigger.AvailableNow()).toTable("gadopt.ns.dst")
    q2.awaitTermination()
    assert(spark.table("gadopt.ns.dst").orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq(1L -> "A", 2L -> "B", 1L -> "A", 2L -> "B", 3L -> "C").sortBy(_._1),
      "the post-rename epoch must read back under the logical name")
    // files landed AFTER the rename = the tip's live files minus everything
    // that existed before the schema commit (the drain also ships a
    // trailing empty epoch, so "the last append" is not the data commit)
    val all = SnapshotTable.history(spark, dstRoot)
    val schemaV = all.find(_.action == "schema").get.version
    val preSet = all.filter(_.version < schemaV).flatMap(_.files.map(_.path)).toSet
    val newFiles = all.last.files.filter(_.rows > 0).map(_.path).filterNot(preSet)
    assert(newFiles.nonEmpty, "the post-rename epoch landed no files?")
    assert(
      newFiles.forall(p => !stagedName.pattern.matcher(p.substring(p.lastIndexOf('/') + 1)).matches()),
      s"a renamed-column table must NOT adopt staged files verbatim: $newFiles")
    // and the new file's PHYSICAL parquet column is the frozen original name
    val raw = spark.read.parquet(new org.apache.hadoop.fs.Path(dstRoot, newFiles.head).toString)
    assert(raw.columns.toSet == Set("k", "s"), s"physical columns must stay frozen: ${raw.columns.toSeq}")
  }
}
