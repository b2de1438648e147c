package graft

import java.nio.file.Files

import graft.sinks.SnapshotTable
import graft.sinks.SnapshotTable.Bound
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** The SQL catalog (SURVEY §2.J `cap_catalog`): snapshot tables reachable
  * from PLAIN SQL — `graft.ns.t` identifiers map to warehouse paths, the
  * manifest log is the metadata (stateless catalog, no metastore), reads
  * plan the pruned DSv2 batches, writes and DDL route onto the
  * transactional / metadata-only operators. */
class GraftCatalogSpec extends SparkSuite {
  import spark.implicits._

  private val wh = Files.createTempDirectory("graft-wh").toString
  spark.conf.set("spark.sql.catalog.gtest", classOf[graft.sinks.GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.gtest.warehouse", wh)

  private def clustered(n: Int, files: Int) =
    spark
      .range(n.toLong)
      .selectExpr("id AS k", "concat('v', id) AS s")
      .repartitionByRange(files, org.apache.spark.sql.functions.col("k"))
      .sortWithinPartitions("k")

  test("plain-SQL reads resolve through the catalog with pruned DSv2 scans; refs and time travel work") {
    SnapshotTable.create(spark, wh + "/sales/orders", clustered(1000, 8)) // v1
    SnapshotTable.deleteWhere(spark, wh + "/sales/orders", Seq(Bound("k", Some(0L), Some(99L)))) // v2
    SnapshotTable.createTag(spark, wh + "/sales/orders", "golden", Some(1))
    val dev = SnapshotTable.createBranch(spark, wh + "/sales/orders", "dev")
    SnapshotTable.append(spark, dev, clustered(100, 1).selectExpr("k + 5000 AS k", "s"))

    assert(spark.sql("SELECT count(*) AS n FROM gtest.sales.orders").head.getLong(0) == 900)
    // the plan is the native DSv2 batch, and pushdown prunes partitions
    val df = spark.sql("SELECT * FROM gtest.sales.orders WHERE k > 874")
    val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.inputPartitions.size == 1, s"catalog read must prune to 1 file, got ${scan.inputPartitions.size}")
    assert(df.count() == 125)
    // VERSION AS OF: number, tag, branch tip
    assert(spark.sql("SELECT count(*) AS n FROM gtest.sales.orders VERSION AS OF 1").head.getLong(0) == 1000)
    assert(spark.sql("SELECT count(*) AS n FROM gtest.sales.orders VERSION AS OF 'golden'").head.getLong(0) == 1000)
    assert(spark.sql("SELECT count(*) AS n FROM gtest.sales.orders VERSION AS OF 'dev'").head.getLong(0) == 1000)
    // TIMESTAMP AS OF after every commit resolves the latest version
    val after = new java.sql.Timestamp(System.currentTimeMillis() + 3600000L)
    assert(spark.sql(s"SELECT count(*) AS n FROM gtest.sales.orders TIMESTAMP AS OF '$after'").head.getLong(0) == 900)
    // SHOW TABLES sees exactly the snapshot tables in the namespace
    val listed = spark.sql("SHOW TABLES IN gtest.sales").select("tableName").as[String].collect().toSet
    assert(listed == Set("orders"), listed.toString)
  }

  test("namespaces are warehouse directories: SHOW/CREATE/DROP NAMESPACE, stateless metadata") {
    spark.sql("CREATE NAMESPACE gtest.staging")
    val nss = spark.sql("SHOW NAMESPACES IN gtest").select("namespace").collect().map(_.getString(0)).toSet
    assert(nss.contains("staging"), nss.toString)
    // a table root is a TABLE, never listed as a namespace
    SnapshotTable.create(spark, wh + "/staging/t", clustered(5, 1))
    assert(!spark.sql("SHOW NAMESPACES IN gtest.staging").collect().map(_.getString(0)).contains("t"))
    assert(spark.sql("SHOW TABLES IN gtest.staging").select("tableName").as[String].collect().toSeq == Seq("t"))
    // a table root is never a namespace CONTEXT either: listing inside it
    // refuses (no phantom data/_manifests "namespaces"), and creating a
    // namespace under it refuses
    assert(intercept[Exception](spark.sql("SHOW NAMESPACES IN gtest.staging.t").collect())
      .getMessage.nonEmpty)
    assert(intercept[Exception](spark.sql("CREATE NAMESPACE gtest.staging.t.x"))
      .getMessage.contains("TABLE"))
    // a non-empty namespace refuses a plain drop; CASCADE takes the tree
    assert(intercept[Exception](spark.sql("DROP NAMESPACE gtest.staging")).getMessage.nonEmpty)
    spark.sql("DROP NAMESPACE gtest.staging CASCADE")
    assert(!new java.io.File(wh + "/staging").exists())
  }

  test("INSERT INTO / OVERWRITE are transactional commits; CTAS, ALTER and DROP route onto the operators") {
    val root = wh + "/etl/t1"
    SnapshotTable.create(spark, root, clustered(10, 1))
    // INSERT INTO = ONE append commit
    spark.sql("INSERT INTO gtest.etl.t1 SELECT id + 100 AS k, concat('w', id) AS s FROM range(5)")
    assert(SnapshotTable.history(spark, root).last.action == "append")
    assert(spark.sql("SELECT count(*) AS n FROM gtest.etl.t1").head.getLong(0) == 15)
    // INSERT OVERWRITE = ONE overwrite commit; history survives
    spark.sql("INSERT OVERWRITE gtest.etl.t1 SELECT id AS k, concat('o', id) AS s FROM range(3)")
    assert(SnapshotTable.history(spark, root).last.action == "overwrite")
    assert(spark.sql("SELECT count(*) AS n FROM gtest.etl.t1").head.getLong(0) == 3)
    assert(spark.sql("SELECT count(*) AS n FROM gtest.etl.t1 VERSION AS OF 2").head.getLong(0) == 15)

    // CTAS: empty v1 with the declared schema, then the query appends
    spark.sql("CREATE TABLE gtest.etl.t2 AS SELECT k, s FROM gtest.etl.t1 WHERE k < 2")
    assert(spark.sql("SELECT count(*) AS n FROM gtest.etl.t2").head.getLong(0) == 2)
    assert(SnapshotTable.read(spark, wh + "/etl/t2").columns.toSeq == Seq("k", "s"))
    // duplicate create refuses
    assert(intercept[Exception](
      spark.sql("CREATE TABLE gtest.etl.t2 (k BIGINT) USING graft")).getMessage.nonEmpty)

    // ALTER TABLE column DDL = metadata-only commits
    spark.sql("ALTER TABLE gtest.etl.t2 ADD COLUMN note STRING")
    spark.sql("ALTER TABLE gtest.etl.t2 RENAME COLUMN s TO label")
    assert(spark.sql("SELECT * FROM gtest.etl.t2").columns.toSeq == Seq("k", "label", "note"))
    spark.sql("ALTER TABLE gtest.etl.t2 DROP COLUMN note")
    assert(spark.sql("SELECT * FROM gtest.etl.t2").columns.toSeq == Seq("k", "label"))
    assert(spark.sql("SELECT label FROM gtest.etl.t2 WHERE k = 1").head.getString(0) == "o1")

    // the DataFrame API reaches the same tables: read.table + writeTo
    assert(spark.read.table("gtest.etl.t1").count() == 3)
    spark.range(3).selectExpr("id + 500 AS k", "concat('a', id) AS label")
      .writeTo("gtest.etl.t2").append()
    assert(SnapshotTable.history(spark, wh + "/etl/t2").last.action == "append")
    assert(spark.table("gtest.etl.t2").count() == 5)

    // DROP TABLE removes the tree; reads then refuse
    spark.sql("DROP TABLE gtest.etl.t2")
    assert(intercept[Exception](spark.sql("SELECT * FROM gtest.etl.t2").collect()).getMessage.nonEmpty)
    assert(!new java.io.File(wh + "/etl/t2").exists())
  }

  test("cap_catalog_dml: DELETE / UPDATE / MERGE on catalog identifiers route to the transactional executors") {
    org.apache.spark.sql.GraftSqlBridge.addStrategy(spark, graft.sinks.GraftDmlStrategy)
    val root = wh + "/dml/t"
    SnapshotTable.create(
      spark,
      root,
      spark.range(10).selectExpr("id AS k", "concat('v', id) AS s", "CAST(id * 10 AS DOUBLE) AS amt"))

    // DELETE with an exact range condition = the whole-file fast path
    spark.sql("DELETE FROM gtest.dml.t WHERE k >= 8")
    assert(SnapshotTable.history(spark, root).last.action == "delete")
    assert(spark.sql("SELECT count(*) AS n FROM gtest.dml.t").head.getLong(0) == 8)

    // UPDATE: multi-column SET, BETWEEN condition, ONE commit
    spark.sql("UPDATE gtest.dml.t SET s = concat(s, '!'), amt = amt + 1 WHERE k BETWEEN 2 AND 3")
    assert(SnapshotTable.history(spark, root).last.action == "update")
    val upd = spark.sql("SELECT s, amt FROM gtest.dml.t WHERE k = 2").head
    assert(upd.getString(0) == "v2!" && upd.getDouble(1) == 21.0)

    // MERGE: conditional matched update, matched delete, INSERT *, and a
    // NOT MATCHED BY SOURCE clause — the full Delta-shaped statement.
    // The source is ANOTHER catalog table (no temp views needed).
    Seq((6L, "m6", 1.0), (7L, "m7", 2.0), (20L, "m20", 3.0))
      .toDF("k", "s", "amt")
      .write.mode("overwrite").parquet(wh + "/dmlsrc_data")
    spark.sql(s"CREATE TABLE gtest.dml.src AS SELECT * FROM parquet.`$wh/dmlsrc_data`")
    spark.sql("""MERGE INTO gtest.dml.t t USING gtest.dml.src s ON t.k = s.k
      |WHEN MATCHED AND s.amt > 1.5 THEN UPDATE SET t.s = s.s, t.amt = t.amt + s.amt
      |WHEN MATCHED THEN DELETE
      |WHEN NOT MATCHED THEN INSERT *
      |WHEN NOT MATCHED BY SOURCE AND t.k = 0 THEN UPDATE SET t.s = 'zero'
      |""".stripMargin)
    val rows = spark.sql("SELECT k, s, amt FROM gtest.dml.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toList
    assert(!rows.exists(_._1 == 6), "unconditional matched DELETE must remove k=6")
    assert(rows.find(_._1 == 7).get == ((7L, "m7", 72.0)), "conditional matched UPDATE")
    assert(rows.find(_._1 == 20).get == ((20L, "m20", 3.0)), "NOT MATCHED INSERT *")
    assert(rows.find(_._1 == 0).get._2 == "zero", "NOT MATCHED BY SOURCE conditional UPDATE")
    // one commit per statement, all through the transactional executors
    assert(SnapshotTable.history(spark, root).map(_.action) ==
      Seq("create", "delete", "update", "merge"))

    // a MERGE without WITH SCHEMA EVOLUTION must NOT evolve the target
    // schema off unreferenced source columns
    assert(spark.table("gtest.dml.t").columns.toSeq == Seq("k", "s", "amt"))

    // refusal shapes: subquery conditions refuse loudly (rewrite as MERGE)
    val e1 = intercept[Exception](
      spark.sql("DELETE FROM gtest.dml.t WHERE k IN (SELECT k FROM gtest.dml.src)"))
    assert(e1.getMessage.contains("subquery"), e1.getMessage)

    // condition-less UPDATE rewrites every row — the same semantics the
    // parser gives condition-less DELETE (a true literal), matching the
    // upstream table formats (Delta/Iceberg allow full-table UPDATE)
    spark.sql("UPDATE gtest.dml.t SET amt = 0")
    assert(SnapshotTable.history(spark, root).last.action == "update")
    assert(spark.sql("SELECT count(*) AS n FROM gtest.dml.t WHERE amt <> 0").head.getLong(0) == 0)

    // a repeated ON key equality (t.k = s.k AND s.k = t.k) dedups to ONE
    // key column — no duplicate-column analysis failure downstream
    spark.sql("""MERGE INTO gtest.dml.t t USING gtest.dml.src s ON t.k = s.k AND s.k = t.k
      |WHEN MATCHED THEN UPDATE SET t.amt = s.amt
      |""".stripMargin)
    assert(spark.sql("SELECT amt FROM gtest.dml.t WHERE k = 20").head.getDouble(0) == 3.0)
  }

  test("PARTITIONED BY (identity) maps to range clustering: DESCRIBE shows it, scans prune on the key") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.pb")
    spark.sql("CREATE TABLE gtest.pb.t (k BIGINT, s STRING) USING graft PARTITIONED BY (k)")
    // DESCRIBE surfaces the mapping as an identity transform partition
    val desc = spark.sql("DESCRIBE TABLE gtest.pb.t").collect().map(_.mkString("|")).mkString("\n")
    assert(desc.contains("# Partition Information") && desc.contains("k"), desc)

    // write enough range-clustered files that the prune is observable:
    // shrink AQE's advisory size so the clustering shuffle keeps several
    // output partitions at this tiny scale
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
    // default minPartitionSize (1m) would re-coalesce this tiny insert to 1
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k")
    try {
      spark.sql("INSERT INTO gtest.pb.t SELECT id AS k, concat('v', id) AS s FROM range(10000)")
      val all = spark.sql("SELECT * FROM gtest.pb.t")
      all.collect()
      val allScan = all.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
      assert(allScan.inputPartitions.size > 1,
        s"need multiple clustered files for a meaningful prune, got ${allScan.inputPartitions.size}")
      // a point predicate on the clustering key prunes to ONE file via
      // manifest min/max stats — the pruning PARTITIONED BY promises
      val one = spark.sql("SELECT * FROM gtest.pb.t WHERE k = 5")
      one.collect()
      val scan = one.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
      assert(scan.inputPartitions.size == 1,
        s"k=5 must prune to 1 file, got ${scan.inputPartitions.size} of ${allScan.inputPartitions.size}")

      // CTAS PARTITIONED BY round-trips the same way
      spark.sql("CREATE TABLE gtest.pb.t2 USING graft PARTITIONED BY (k) AS SELECT * FROM gtest.pb.t")
      import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
      val cat = spark.sessionState.catalogManager.catalog("gtest").asInstanceOf[TableCatalog]
      val t2 = cat.loadTable(Identifier.of(Array("pb"), "t2"))
      assert(t2.partitioning().map(_.toString).toSeq == Seq("identity(k)"), t2.partitioning().mkString(","))
      val two = spark.sql("SELECT * FROM gtest.pb.t2 WHERE k = 9999")
      two.collect()
      val scan2 = two.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
      assert(scan2.inputPartitions.size == 1, s"CTAS output must cluster too: ${scan2.inputPartitions.size}")

      // INSERT OVERWRITE keeps the spec (a replacing commit must not
      // silently un-cluster the table)
      spark.sql("INSERT OVERWRITE gtest.pb.t2 SELECT id * 2 AS k, concat('o', id) AS s FROM range(10000)")
      val t2b = cat.loadTable(Identifier.of(Array("pb"), "t2"))
      assert(t2b.partitioning().map(_.toString).toSeq == Seq("identity(k)"), "overwrite dropped the cluster spec")
      val three = spark.sql("SELECT * FROM gtest.pb.t2 WHERE k = 40")
      three.collect()
      val scan3 = three.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
      assert(scan3.inputPartitions.size == 1, s"post-overwrite prune: ${scan3.inputPartitions.size}")
    } finally {
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    }

    // an unknown partition column refuses at CREATE, not first write
    val e2 = intercept[Exception](
      spark.sql("CREATE TABLE gtest.pb.tc (k BIGINT) USING graft PARTITIONED BY (zz)"))
    assert(e2.getMessage.toLowerCase.contains("not a column") || e2.getMessage.contains("zz"), e2.getMessage)
  }

  test("non-identity PARTITIONED BY transforms map to source-column clustering and round-trip") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.pbx")
    val cat = spark.sessionState.catalogManager.catalog("gtest").asInstanceOf[TableCatalog]

    // days(ts) + bucket(8, k): DESCRIBE / partitioning() round-trip the
    // DECLARED transforms; writes range-cluster on the source columns
    spark.sql(
      "CREATE TABLE gtest.pbx.t (ts TIMESTAMP, k BIGINT, s STRING) USING graft " +
        "PARTITIONED BY (days(ts), bucket(8, k))")
    val t = cat.loadTable(Identifier.of(Array("pbx"), "t"))
    assert(
      t.partitioning().map(_.toString).toSeq == Seq("days(ts)", "bucket(8, k)"),
      t.partitioning().mkString(","))

    // several clustered files at tiny scale (same AQE shrink as the
    // identity case), then prune on the leading source column: a one-day
    // ts range must not scan the whole table — the pruning days(ts)
    // partitioning promises, delivered by ts min/max file stats
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k")
    try {
      spark.sql(
        "INSERT INTO gtest.pbx.t SELECT timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,id*17) " +
          "AS ts, id AS k, concat('v', id) AS s FROM range(20000)")
      val all = spark.sql("SELECT * FROM gtest.pbx.t")
      all.collect()
      val allScan = all.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
      assert(allScan.inputPartitions.size > 2, s"need several files, got ${allScan.inputPartitions.size}")
      val day = spark.sql(
        "SELECT * FROM gtest.pbx.t WHERE ts >= timestamp'2024-01-01' AND ts < timestamp'2024-01-02'")
      day.collect()
      val dayScan = day.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
      assert(
        dayScan.inputPartitions.size < allScan.inputPartitions.size,
        s"one-day range must prune: ${dayScan.inputPartitions.size} of ${allScan.inputPartitions.size}")

      // truncate(4, s) on a string column round-trips; equality on the
      // source column prunes (range clustering dominates prefix buckets)
      spark.sql(
        "CREATE TABLE gtest.pbx.tt USING graft PARTITIONED BY (truncate(4, s)) " +
          "AS SELECT concat('pfx', cast(id % 97 AS STRING), '-', id) AS s, id AS k FROM range(20000)")
      val tt = cat.loadTable(Identifier.of(Array("pbx"), "tt"))
      assert(tt.partitioning().map(_.toString).toSeq == Seq("truncate(4, s)"), tt.partitioning().mkString(","))
      val ttAll = spark.sql("SELECT * FROM gtest.pbx.tt")
      ttAll.collect()
      val ttAllScan = ttAll.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
      assert(ttAllScan.inputPartitions.size > 1, s"need several files, got ${ttAllScan.inputPartitions.size}")
      val one = spark.sql("SELECT * FROM gtest.pbx.tt WHERE s = 'pfx42-10719'")
      one.collect()
      val oneScan = one.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
      assert(oneScan.inputPartitions.size == 1, s"key equality must prune to 1 file: ${oneScan.inputPartitions.size}")

      // the spec survives INSERT OVERWRITE (replacing commits re-apply it,
      // transform label included)
      spark.sql("INSERT OVERWRITE gtest.pbx.tt SELECT concat('q', id) AS s, id AS k FROM range(100)")
      val ttb = cat.loadTable(Identifier.of(Array("pbx"), "tt"))
      assert(ttb.partitioning().map(_.toString).toSeq == Seq("truncate(4, s)"), "overwrite dropped the transform")
    } finally {
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    }

    // PARTITIONED BY columns resolve case-insensitively (the session
    // default) and the spec records the table's ACTUAL casing
    spark.sql(
      "CREATE TABLE gtest.pbx.ci (ts TIMESTAMP, k BIGINT) USING graft PARTITIONED BY (days(TS), K)")
    val ci = cat.loadTable(Identifier.of(Array("pbx"), "ci"))
    assert(
      ci.partitioning().map(_.toString).toSeq == Seq("days(ts)", "identity(k)"),
      ci.partitioning().mkString(","))

    // temporal transforms type-check at CREATE: days over a BIGINT refuses
    val e = intercept[Exception](
      spark.sql("CREATE TABLE gtest.pbx.bad (k BIGINT) USING graft PARTITIONED BY (days(k))"))
    assert(e.getMessage.contains("date/timestamp"), e.getMessage)
    // unknown transform names still refuse loudly rather than approximate
    val e2 = intercept[Exception](
      spark.sql("CREATE TABLE gtest.pbx.bad2 (k BIGINT) USING graft PARTITIONED BY (shard(4, k))"))
    assert(e2.getMessage.contains("unsupported partition transform"), e2.getMessage)
  }

  test("unsafe identifier segments refuse before any filesystem touch; drops invalidate the fork cache") {
    // a quoted '..' segment would resolve OUTSIDE the warehouse — and
    // dropTable deletes recursively, so this must refuse up-front
    val marker = new java.io.File(wh).getParent + "/graft-escape-marker"
    new java.io.File(marker).mkdirs()
    for (sql <- Seq(
        "SELECT * FROM gtest.`..`.`graft-escape-marker`",
        "DROP TABLE gtest.`..`.`graft-escape-marker`",
        "CREATE NAMESPACE gtest.`..`",
        "DROP NAMESPACE gtest.`a/b`")) {
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(
        e.getMessage.contains("unsafe identifier segment") ||
          Option(e.getCause).exists(_.getMessage.contains("unsafe identifier segment")),
        s"$sql -> ${e.getMessage}")
    }
    assert(new java.io.File(marker).exists(), "the out-of-warehouse dir must be untouched")
    // '#' segments would misroute through the branch-ref separator
    intercept[Exception](spark.sql("SELECT * FROM gtest.ns.`t#branch=dev`").collect())
    // LOCATION/EXTERNAL would be silently ignored (identifiers ARE
    // warehouse paths) — refuse, never approximate
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.locns")
    val eLoc = intercept[Exception](
      spark.sql(s"CREATE TABLE gtest.locns.tloc (k BIGINT) USING graft LOCATION '/tmp/elsewhere'"))
    assert(eLoc.getMessage.contains("location") || eLoc.getMessage.toLowerCase.contains("external"),
      eLoc.getMessage)

    // fork-cache invalidation: warm a branch handle, DROP the table via
    // the catalog, recreate at the same root — the branch must be GONE,
    // not served from a stale cached fork against the new table's data
    val root = wh + "/fc/t"
    SnapshotTable.create(spark, root, clustered(10, 1))
    val dev = SnapshotTable.createBranch(spark, root, "dev")
    SnapshotTable.append(spark, dev, clustered(5, 1))
    assert(SnapshotTable.read(spark, dev).count() == 15) // cache is warm
    spark.sql("DROP TABLE gtest.fc.t")
    SnapshotTable.create(spark, root, clustered(3, 1))
    val e = intercept[Exception](SnapshotTable.read(spark, dev).count())
    assert(e.getMessage.contains("no branch"), e.getMessage)

    // DROP NAMESPACE CASCADE kills whole table trees — same staleness
    val root2 = wh + "/fc2/t"
    SnapshotTable.create(spark, root2, clustered(10, 1))
    val dev2 = SnapshotTable.createBranch(spark, root2, "dev")
    SnapshotTable.append(spark, dev2, clustered(5, 1))
    assert(SnapshotTable.read(spark, dev2).count() == 15) // cache warm
    spark.sql("DROP NAMESPACE gtest.fc2 CASCADE")
    SnapshotTable.create(spark, root2, clustered(3, 1))
    val e2 = intercept[Exception](SnapshotTable.read(spark, dev2).count())
    assert(e2.getMessage.contains("no branch"), e2.getMessage)
  }

  test("multi-change ALTER TABLE is ONE atomic commit: all changes or none, never a committed prefix") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, TableChange}
    val root = wh + "/ddl/t"
    SnapshotTable.create(spark, root, clustered(5, 1))
    val v1 = SnapshotTable.latestVersion(spark, root).get
    // one statement, two columns → ONE version, both visible
    spark.sql("ALTER TABLE gtest.ddl.t ADD COLUMNS (a STRING, b INT)")
    assert(SnapshotTable.latestVersion(spark, root).get == v1 + 1, "multi-add is one commit")
    assert(spark.table("gtest.ddl.t").columns.toSeq == Seq("k", "s", "a", "b"))
    // a LATER invalid change must leave the EARLIER valid one unapplied —
    // driven through the catalog API directly (Spark's own analysis would
    // otherwise pre-reject, bypassing the catalog's atomicity)
    val cat = spark.sessionState.catalogManager
      .catalog("gtest").asInstanceOf[TableCatalog]
    val ident = Identifier.of(Array("ddl"), "t")
    intercept[Exception](cat.alterTable(
      ident,
      TableChange.addColumn(Array("c2"), org.apache.spark.sql.types.StringType),
      TableChange.deleteColumn(Array("no_such_col"), false)))
    assert(SnapshotTable.latestVersion(spark, root).get == v1 + 1, "failed statement commits nothing")
    assert(!spark.table("gtest.ddl.t").columns.contains("c2"), "no committed prefix")
    // changes validate against the schema AS PREVIOUS CHANGES LEFT IT:
    // a column ADDED and then RENAMED in the SAME statement only works
    // when the second change sees the first one's result
    cat.alterTable(
      ident,
      TableChange.addColumn(Array("tmp"), org.apache.spark.sql.types.IntegerType),
      TableChange.renameColumn(Array("tmp"), "c3"),
      TableChange.renameColumn(Array("s"), "s_old"))
    assert(SnapshotTable.latestVersion(spark, root).get == v1 + 2, "three changes, ONE commit")
    assert(spark.table("gtest.ddl.t").columns.toSeq == Seq("k", "s_old", "a", "b", "c3"))
    // the renamed column still reads its original bytes
    assert(spark.sql("SELECT s_old FROM gtest.ddl.t WHERE k = 1").head.getString(0) == "v1")
    // re-adding a RENAMED column's frozen physical name refuses (the
    // engine's physical-collision contract) and, being one statement,
    // leaves the valid earlier change unapplied too
    intercept[Exception](cat.alterTable(
      ident,
      TableChange.addColumn(Array("c4"), org.apache.spark.sql.types.IntegerType),
      TableChange.addColumn(Array("s"), org.apache.spark.sql.types.IntegerType)))
    assert(!spark.table("gtest.ddl.t").columns.contains("c4"), "no committed prefix")
  }

  test("cap_catalog_procedures: CALL gtest.system.{history,optimize,create_tag,create_branch,vacuum} via plain SQL") {
    val root = wh + "/proc/t"
    SnapshotTable.create(spark, root, clustered(100, 4)) // v1
    spark.sql("INSERT INTO gtest.proc.t SELECT id + 1000 AS k, concat('x', id) AS s FROM range(10)") // v2

    // history: the commit log as rows
    val h = spark.sql("CALL gtest.system.history('proc.t')")
    assert(h.columns.take(2).toSeq == Seq("version", "action"))
    assert(h.count() == 2)

    // optimize single-column = compact; returns the new version
    assert(spark.sql("CALL gtest.system.optimize('proc.t', 'k', 2)").head.getInt(0) == 3)
    assert(SnapshotTable.history(spark, root).last.action == "compact")
    assert(spark.sql("SELECT count(*) AS n FROM gtest.proc.t").head.getLong(0) == 110)
    // multi-column = Z-ORDER
    assert(spark.sql("CALL gtest.system.optimize('proc.t', 'k, s', 2)").head.getInt(0) == 4)

    // tag a version, fork a branch — readable through VERSION AS OF
    assert(spark.sql("CALL gtest.system.create_tag('proc.t', 'gold', 1)").head.getInt(0) == 1)
    spark.sql("CALL gtest.system.create_branch('proc.t', 'dev')")
    assert(spark.sql("SELECT count(*) AS n FROM gtest.proc.t VERSION AS OF 'gold'").head.getLong(0) == 100)
    assert(spark.sql("SELECT count(*) AS n FROM gtest.proc.t VERSION AS OF 'dev'").head.getLong(0) == 110)

    // vacuum: NAMED arguments + defaulted min_age_ms; dry run reports
    // without deleting (v1 is tag-pinned and survives either way)
    val dry = spark.sql(
      "CALL gtest.system.vacuum(`table` => 'proc.t', keep_last => 1, dry_run => true)")
    assert(dry.columns.toSeq == Seq("deleted_path") && dry.count() > 0)
    assert(spark.sql("SELECT count(*) AS n FROM gtest.proc.t VERSION AS OF 2").head.getLong(0) == 110,
      "dry run must delete nothing")
    spark.sql("CALL gtest.system.vacuum(`table` => 'proc.t', keep_last => 1)")
    // v2's manifest is reclaimed; the tagged v1 survives
    intercept[Exception](
      spark.sql("SELECT count(*) FROM gtest.proc.t VERSION AS OF 2").collect())
    assert(spark.sql("SELECT count(*) AS n FROM gtest.proc.t VERSION AS OF 'gold'").head.getLong(0) == 100)

    // discovery + refusals
    assert(spark.sql("SHOW PROCEDURES IN gtest.system").count() == 11)
    // Spark wraps the loud unknown-procedure refusal in FAILED_TO_LOAD_ROUTINE
    val e = intercept[Exception](spark.sql("CALL gtest.system.nope('x')"))
    assert(e.getMessage.contains("nope"), e.getMessage)
    // a procedure's table argument rides the same unsafe-segment gate
    intercept[Exception](spark.sql("CALL gtest.system.history('../escape')"))
  }

  test("catalog procedures: the full ref workflow (fork, stage, rebase, publish, restore) from SQL") {
    val root = wh + "/proc2/t"
    SnapshotTable.create(spark, root, clustered(50, 2)) // v1: k 0..49
    // fork + stage (branch writes go through the programmatic handle; the
    // workflow VERBS are what the procedures add)
    val dev = SnapshotTable.createBranch(spark, root, "dev")
    SnapshotTable.append(spark, dev, clustered(30, 1).selectExpr("k + 1000 AS k", "s")) // branch v2
    spark.sql("INSERT INTO gtest.proc2.t SELECT id + 5000 AS k, concat('m', id) AS s FROM range(10)") // main v2: diverged
    // diverged main: fast_forward refuses, rebase replays, fast_forward lands
    assert(intercept[Exception](spark.sql("CALL gtest.system.fast_forward('proc2.t', 'dev')"))
      .getMessage.contains("diverges"))
    assert(spark.sql("CALL gtest.system.rebase('proc2.t', 'dev')").head.getInt(0) == 3)
    assert(spark.sql("CALL gtest.system.fast_forward('proc2.t', 'dev')").head.getInt(0) == 3)
    assert(spark.sql("SELECT count(*) AS n FROM gtest.proc2.t").head.getLong(0) == 90)
    spark.sql("CALL gtest.system.drop_branch('proc2.t', 'dev')")
    assert(SnapshotTable.branches(spark, root).isEmpty)

    // cherry_pick: an append-only delta lands on an ADVANCED main as one commit
    val cp = SnapshotTable.createBranch(spark, root, "cp")
    SnapshotTable.append(spark, cp, clustered(5, 1).selectExpr("k + 9000 AS k", "s"))
    spark.sql("INSERT INTO gtest.proc2.t SELECT id + 7000 AS k, concat('z', id) AS s FROM range(5)") // main advances
    spark.sql("CALL gtest.system.cherry_pick('proc2.t', 'cp')")
    assert(spark.sql("SELECT count(*) AS n FROM gtest.proc2.t WHERE k >= 9000").head.getLong(0) == 5)
    spark.sql("CALL gtest.system.drop_branch('proc2.t', 'cp')")

    // restore rolls back as a NEW commit (history preserved), tags drop
    spark.sql("CALL gtest.system.create_tag('proc2.t', 'keep', 1)")
    val before = SnapshotTable.latestVersion(spark, root).get
    assert(spark.sql("CALL gtest.system.restore('proc2.t', 1)").head.getInt(0) == before + 1)
    assert(spark.sql("SELECT count(*) AS n FROM gtest.proc2.t").head.getLong(0) == 50)
    spark.sql("CALL gtest.system.drop_tag('proc2.t', 'keep')")
    assert(SnapshotTable.tags(spark, root).isEmpty)
  }

  test("atomic CTAS lands as one commit; REPLACE TABLE preserves history; TRUNCATE is one commit") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.rp")
    val root = wh + "/rp/t"

    // CTAS through the staging catalog: the data IS v1 — no empty-v1 +
    // append window where a crash strands an empty table
    spark.sql(
      "CREATE TABLE gtest.rp.t USING graft AS " +
        "SELECT id AS k, concat('v', id) AS s FROM range(100)")
    assert(SnapshotTable.latestVersion(spark, root).contains(1), "CTAS must be ONE atomic commit")
    assert(spark.sql("SELECT count(*) AS n FROM gtest.rp.t").head.getLong(0) == 100)

    // a CHECK added pre-replace must NOT survive the re-declaration
    SnapshotTable.addCheck(spark, root, "k_small", "k < 1000")

    // REPLACE TABLE AS SELECT: new schema, ONE `replace` commit, history intact
    spark.sql(
      "REPLACE TABLE gtest.rp.t USING graft AS SELECT id + 2000 AS k2 FROM range(5)")
    assert(spark.sql("SELECT count(*) AS n FROM gtest.rp.t").head.getLong(0) == 5)
    assert(spark.sql("SELECT * FROM gtest.rp.t").columns.toSeq == Seq("k2"))
    // prior version stays time-travel-readable at ITS schema — the
    // non-staged drop-and-recreate would have destroyed it
    val v1 = spark.sql("SELECT * FROM gtest.rp.t VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("k", "s") && v1.count() == 100)
    // constraints cleared: a row violating the OLD check lands fine
    spark.sql("INSERT INTO gtest.rp.t SELECT 5000 AS k2")
    assert(spark.sql("SELECT count(*) AS n FROM gtest.rp.t WHERE k2 = 5000").head.getLong(0) == 1)

    // REPLACE with PARTITIONED BY re-declares the cluster spec (the old
    // spec must not carry like a plain overwrite would)
    spark.sql(
      "CREATE OR REPLACE TABLE gtest.rp.t USING graft PARTITIONED BY (k3) AS " +
        "SELECT id AS k3 FROM range(10)")
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    val cat = spark.sessionState.catalogManager.catalog("gtest").asInstanceOf[TableCatalog]
    assert(
      cat.loadTable(Identifier.of(Array("rp"), "t")).partitioning().map(_.toString).toSeq ==
        Seq("identity(k3)"))

    // plain REPLACE TABLE (no AS SELECT): empty table of the new schema,
    // still one commit on the same history chain
    val beforePlain = SnapshotTable.latestVersion(spark, root).get
    spark.sql("REPLACE TABLE gtest.rp.t (a INT, b STRING) USING graft")
    assert(SnapshotTable.latestVersion(spark, root).contains(beforePlain + 1))
    assert(spark.sql("SELECT * FROM gtest.rp.t").columns.toSeq == Seq("a", "b"))
    assert(spark.sql("SELECT count(*) AS n FROM gtest.rp.t").head.getLong(0) == 0)

    // REPLACE of a nonexistent table refuses; CREATE OR REPLACE creates
    val e = intercept[Exception](spark.sql("REPLACE TABLE gtest.rp.nope USING graft AS SELECT 1 AS x"))
    assert(e.getMessage.toUpperCase.contains("TABLE") , e.getMessage)
    spark.sql("CREATE OR REPLACE TABLE gtest.rp.fresh USING graft AS SELECT 1 AS x")
    assert(spark.sql("SELECT count(*) AS n FROM gtest.rp.fresh").head.getLong(0) == 1)

    // TRUNCATE TABLE: one atomic overwrite-empty commit, schema and
    // history retained
    spark.sql("INSERT INTO gtest.rp.t SELECT 7 AS a, 'x' AS b")
    val beforeTrunc = SnapshotTable.latestVersion(spark, root).get
    spark.sql("TRUNCATE TABLE gtest.rp.t")
    assert(SnapshotTable.latestVersion(spark, root).contains(beforeTrunc + 1))
    assert(spark.sql("SELECT count(*) AS n FROM gtest.rp.t").head.getLong(0) == 0)
    assert(
      spark.sql(s"SELECT count(*) AS n FROM gtest.rp.t VERSION AS OF $beforeTrunc").head.getLong(0) == 1)
    spark.sql("INSERT INTO gtest.rp.t SELECT 8 AS a, 'y' AS b") // schema survived
    assert(spark.sql("SELECT count(*) AS n FROM gtest.rp.t").head.getLong(0) == 1)
  }

  test("spark.graft.dml.mor routes catalog DML onto merge-on-read O(change) commits") {
    import graft.sinks.SnapshotSql
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.mor")
    // the five statement shapes: exact-bound DELETE and UPDATE, the
    // canonical upsert (SET * / INSERT *), the unconditional matched
    // DELETE, and a general conditional MERGE
    def statements(t: String): Seq[String] = Seq(
      s"DELETE FROM $t WHERE k BETWEEN 100 AND 199",
      s"UPDATE $t SET s = 'u' WHERE k BETWEEN 200 AND 209",
      s"MERGE INTO $t AS t USING " +
        "(SELECT id + 950 AS k, concat('m', id) AS s FROM range(100)) AS s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
      s"MERGE INTO $t AS t USING " +
        "(SELECT id AS k FROM range(50)) AS s ON t.k = s.k WHEN MATCHED THEN DELETE",
      s"MERGE INTO $t AS t USING (SELECT id + 300 AS k FROM range(5)) AS s " +
        "ON t.k = s.k WHEN MATCHED AND t.k = 302 THEN DELETE")
    def actions(root: String): Seq[String] = SnapshotTable.history(spark, root).map(_.action).tail
    def rows(root: String): Seq[(Long, String)] =
      SnapshotTable.read(spark, root).orderBy("k").as[(Long, String)].collect().toSeq
    // each mode lands the statements on both DML surfaces — catalog
    // identifiers under the session conf, SQL text on a registration with
    // the same write mode — and both must commit the same actions, version
    // by version, and the same rows
    def land(mor: Boolean): (String, Seq[(Long, String)]) = {
      val tag = if (mor) "on" else "off"
      val catRoot = s"$wh/mor/t_$tag"
      val sqlRoot = s"$wh/mor/sql_$tag"
      SnapshotTable.create(spark, catRoot, clustered(1000, 8)) // v1
      SnapshotTable.create(spark, sqlRoot, clustered(1000, 8))
      SnapshotSql.register(spark, s"mor_sql_$tag", sqlRoot, morWrites = mor)
      spark.conf.set("spark.graft.dml.mor", mor.toString)
      try statements(s"gtest.mor.t_$tag").foreach(spark.sql)
      finally spark.conf.unset("spark.graft.dml.mor")
      statements(s"mor_sql_$tag").foreach(SnapshotSql.execute(spark, _))
      val expected =
        if (mor) Seq("mor-delete", "mor-update", "mor-merge", "mor-delete", "merge")
        else Seq("delete", "update", "merge", "merge", "merge")
      assert(actions(catRoot) == expected, actions(catRoot))
      assert(actions(sqlRoot) == expected, actions(sqlRoot))
      val landed = rows(catRoot)
      assert(rows(sqlRoot) == landed, s"SQL text and catalog DML must land the same rows ($tag)")
      (catRoot, landed)
    }
    val (morRoot, morRows) = land(mor = true)
    val (_, cowRows) = land(mor = false)
    assert(morRows == cowRows, "merge-on-read and copy-on-write must land the same rows")
    assert(morRows.size == 899 && morRows.count(_._2 == "u") == 10 &&
      morRows.count(_._2.startsWith("m")) == 100 && !morRows.exists(r => r._1 < 50 || r._1 == 302))

    // a keyed merge-on-read sink epoch takes the same router
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("k", "s")
      .writeStream
      .format("snapshot-table")
      .option("path", morRoot)
      .option("upsertKeys", "k")
      .option("morWrites", "true")
      .option("checkpointLocation", Files.createTempDirectory("graft-mor-sink-ck").toString)
      .outputMode("update")
      .start()
    try { ms.addData((500L, "e"), (2000L, "e")); q.processAllAvailable() }
    finally q.stop()
    val epoch = SnapshotTable.history(spark, morRoot).last
    assert(epoch.action == "mor-merge" && epoch.batchId.contains(0L), (epoch.action, epoch.batchId))
    assert(rows(morRoot) == (morRows.filterNot(_._1 == 500L) ++ Seq(500L -> "e", 2000L -> "e")).sortBy(_._1))
  }

  test("MOR merge aligns source casing to the target schema: ON t.K = s.k UPDATE SET * lands identically in both modes") {
    org.apache.spark.sql.GraftSqlBridge.addStrategy(spark, graft.sinks.GraftDmlStrategy)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.morcase")
    spark.sql("CREATE TABLE gtest.morcase.t (K BIGINT, Val STRING)") // v1
    spark.sql("INSERT INTO gtest.morcase.t SELECT id AS K, concat('o', id) AS Val FROM range(5)") // v2
    val root = wh + "/morcase/t"
    def action(v: Int): String = SnapshotTable.readManifest(spark, root, v).action
    spark.conf.set("spark.graft.dml.mor", "true")
    try {
      // lower-case source columns against the upper-cased target: must
      // still take the MOR route AND the inserted rows must read back
      // with their values (the r18 advisory failure: a case-mismatched
      // non-key column appended under an unmapped physical name → NULLs)
      spark.sql(
        "MERGE INTO gtest.morcase.t AS t USING " +
          "(SELECT id + 3 AS k, concat('n', id + 3) AS val FROM range(4)) AS s ON t.K = s.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      assert(action(3) == "mor-merge", action(3))
      val rows = spark.sql("SELECT K, Val FROM gtest.morcase.t ORDER BY K").collect()
      assert(rows.length == 7 && !rows.exists(_.isNullAt(1)),
        s"case-aligned MOR merge must never land NULL values: ${rows.mkString(",")}")
      assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq(0L -> "o0", 1L -> "o1", 2L -> "o2", 3L -> "n3", 4L -> "n4", 5L -> "n5", 6L -> "n6"))
      // keyed MOR delete with the same case-differing source key
      spark.sql(
        "MERGE INTO gtest.morcase.t AS t USING (SELECT id AS k FROM range(2)) AS s " +
          "ON t.K = s.k WHEN MATCHED THEN DELETE")
      assert(action(4) == "mor-delete", action(4))
      assert(spark.sql("SELECT count(*) AS n FROM gtest.morcase.t").head.getLong(0) == 5)
    } finally spark.conf.unset("spark.graft.dml.mor")
    // the COW twin of the same statement shape (mor off) — the projection
    // of the source to referenced columns must be resolver-matched there
    // too, or `s.val` vanishes from the projected source
    spark.sql("CREATE TABLE gtest.morcase.c (K BIGINT, Val STRING)")
    spark.sql("INSERT INTO gtest.morcase.c SELECT id AS K, concat('o', id) AS Val FROM range(3)")
    spark.sql(
      "MERGE INTO gtest.morcase.c AS t USING " +
        "(SELECT id + 2 AS k, concat('n', id + 2) AS val FROM range(3)) AS s ON t.K = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val cowRows = spark.sql("SELECT K, Val FROM gtest.morcase.c ORDER BY K").collect()
    assert(cowRows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq(0L -> "o0", 1L -> "o1", 2L -> "n2", 3L -> "n3", 4L -> "n4"),
      s"COW case-crossed SET * must land values: ${cowRows.mkString(",")}")
  }

  test("a write's data never implicitly declares a cluster spec (no metadata riding)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.mr")
    // clustered source, unclustered target
    spark.sql("CREATE TABLE gtest.mr.src (k BIGINT, s STRING) USING graft PARTITIONED BY (k)")
    spark.sql("INSERT INTO gtest.mr.src SELECT id AS k, concat('v', id) AS s FROM range(100)")
    spark.sql("CREATE TABLE gtest.mr.dst USING graft AS SELECT * FROM gtest.mr.src")
    spark.sql("INSERT OVERWRITE gtest.mr.dst SELECT * FROM gtest.mr.src")
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    val cat = spark.sessionState.catalogManager.catalog("gtest").asInstanceOf[TableCatalog]
    // the source's ClusterPos metadata rides the SELECT * projection; the
    // target's declaration (none) must win on create AND overwrite
    assert(cat.loadTable(Identifier.of(Array("mr"), "dst")).partitioning().isEmpty,
      "SELECT * over a clustered source must not hijack the target's cluster spec")
    assert(spark.sql("SELECT count(*) AS n FROM gtest.mr.dst").head.getLong(0) == 100)
  }
}
