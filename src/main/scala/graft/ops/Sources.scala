package graft.ops

import graft.Fixtures
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.A — source-side operators.
  *
  * The reference's capability surface here is "fetch the full dataset",
  * "parse semi-structured API payloads", and "load only records not already
  * loaded" — re-expressed as columnar parquet scan, from_json/get_json_object
  * over the events.props payload column, and a left-anti incremental join.
  */
object Sources {
  private def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * 100 + lit(0.5)).cast("long")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Columnar scan + projection + summary. Projection list is 2 columns so
    // the vectorized parquet reader prunes the other 9 (check ReadSchema).
    "q_scan_parquet" -> { (s, dir) =>
      Fixtures
        .table(s, dir, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_rows"),
          // Exact integer cents: double sums are summation-order-dependent
          // (shuffle layout varies with core count), integer sums are not.
          sum(floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")).as("sum_price_c"))
        .orderBy("l_returnflag")
    },
    // Semi-structured payload parsing: events.props is a JSON string
    // '{"k": <int>}' — extract the typed field and summarize.
    "q_scan_schema_json" -> { (s, dir) =>
      Fixtures
        .events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"))
        .orderBy("k")
    },
    // Incremental load: records whose synthetic UPC is not in the already-
    // loaded key set (here: every third part) survive the left-anti join.
    "q_etl_incremental" -> { (s, dir) =>
      val part = Fixtures
        .table(s, dir, "part")
        .withColumn("upc", lpad(col("p_partkey").cast("string"), 12, "0"))
      val loaded = part.filter(col("p_partkey") % 3 === 0).select("upc")
      part
        .join(loaded, Seq("upc"), "left_anti")
        .select("upc", "p_name")
        .orderBy("upc")
    },
    // CDC snapshot diff — the change-data-capture a loader derives when
    // the source system only offers full extracts: FULL OUTER join of two
    // snapshots on the business key → I (new only) / D (old only) / U
    // (both, payload differs); unchanged rows drop out before the
    // summary. Snapshots are deterministic slices of orders (different
    // modulus filters simulate inserts/deletes, a +100-cent bump on
    // %13 keys simulates updates). One co-partitioned outer join at any
    // scale; the per-op key-sum makes the summary hash-sensitive to
    // WHICH rows changed, not just how many.
    "q_cdc_snapshot_diff" -> { (s, dir) =>
      val o = Fixtures
        .table(s, dir, "orders")
        .select(col("o_orderkey").as("k"), cents(col("o_totalprice")).as("price_c"))
      val old = o.filter(col("k") % 97 =!= 0).select(col("k"), col("price_c").as("old_c"))
      val neu = o
        .filter(col("k") % 89 =!= 0)
        .select(
          col("k"),
          (col("price_c") + when(col("k") % 13 === 0, 100L).otherwise(0L)).as("new_c"))
      old
        .join(neu, Seq("k"), "full_outer")
        .select(
          col("k"),
          when(col("old_c").isNull, "I")
            .when(col("new_c").isNull, "D")
            .when(col("old_c") =!= col("new_c"), "U")
            .otherwise("N")
            .as("op"))
        .filter(col("op") =!= "N")
        .groupBy("op")
        .agg(count(lit(1)).as("n"), sum("k").as("key_sum"))
        .orderBy("op")
    },
    // Snapshot-table time travel, oracle-checked end-to-end: the query IS
    // a full commit cycle — create (keys %10=0), append (%10=1), append
    // (%10=2), compact — against graft.sinks.SnapshotTable, then each
    // committed version is read back and aggregated. The oracle recomputes
    // every version's expected contents directly from the orders fixture,
    // so the hash-match proves atomic-visibility arithmetic (each version
    // sees exactly its committed slices), time travel across commits, and
    // that compaction is data-identical (v4 ≡ v3). Deterministic: exact
    // integer cents, fixed modulus slices; the /tmp working table is
    // rebuilt idempotently per (fixture dir) on every run.
    "q_snapshot_timetravel" -> { (s, dir) =>
      import graft.sinks.SnapshotTable
      val root = "/tmp/graft-snaptt/" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      val o = Fixtures
        .table(s, dir, "orders")
        .select(col("o_orderkey").as("k"), cents(col("o_totalprice")).as("price_c"))
      SnapshotTable.create(s, root, o.filter(col("k") % 10 === 0))
      SnapshotTable.append(s, root, o.filter(col("k") % 10 === 1))
      SnapshotTable.append(s, root, o.filter(col("k") % 10 === 2))
      // fan-in scales with the session (fixed tiny counts collapse write
      // parallelism at large SF: 15M rows into 2 files measured 21 s at
      // generated sf10); the oracle is file-count-independent
      SnapshotTable.compact(s, root, "k", nFiles = s.sparkContext.defaultParallelism)
      def snap(v: Int) =
        SnapshotTable
          .readVersion(s, root, v)
          .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_price_c"))
      snap(1).union(snap(2)).union(snap(3)).union(snap(4)).orderBy("version")
    },
    // Manifest-level DATA SKIPPING on the snapshot table: per-file min/max
    // stats ride every commit (collected in the post-write validation scan
    // the protocol already pays), compact() range-clusters on the predicate
    // column, and readWhere() plans the scan over only the files whose
    // recorded range can match — at 100 TB the driver never lists or
    // footer-probes dead files. The result is EXACTLY read-then-filter
    // (hash-checked here against the DuckDB oracle); that skipping actually
    // engages is asserted in SnapshotTableSpec's prunePlan cases.
    "q_snapshot_pruned" -> { (s, dir) =>
      import graft.sinks.SnapshotTable
      val root = "/tmp/graft-snapdp/" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      val o = Fixtures
        .table(s, dir, "orders")
        .select(
          col("o_orderkey").as("k"),
          to_date(col("o_orderdate")).as("d"),
          cents(col("o_totalprice")).as("price_c"))
      SnapshotTable.create(s, root, o.filter(col("k") % 2 === 0))
      SnapshotTable.append(s, root, o.filter(col("k") % 2 === 1))
      SnapshotTable.compact(s, root, "d", nFiles = s.sparkContext.defaultParallelism)
      SnapshotTable
        .readWhere(s, root, Seq(SnapshotTable.Bound("d", Some("1996-01-01"), Some("1996-12-31"))))
        .groupBy((year(col("d")) * 100 + month(col("d"))).cast("int").as("ym"))
        .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"))
        .orderBy("ym")
    },
    // Row-level DML on the snapshot table — the Delta MERGE/DELETE/UPDATE
    // core, copy-on-write with the manifest stats as the WRITE-side index
    // (provably-unmatched files carry by path with zero I/O; see
    // SnapshotDmlSpec for the economics assertions). The 4-commit cycle is
    // built by [[SnapshotCycle]] (shared with q_snapshot_cdc): create all
    // orders → DELETE the 1995 range → UPDATE 1997 prices (+500c) → MERGE
    // an upsert batch (k%7=0 rows at doubled price — reinserting even
    // deleted 1995 keys). The oracle replays the same algebra directly on
    // the fixture, so the hash-match proves delete/update/merge semantics
    // end-to-end including the null-safe range match and key replacement.
    "q_snapshot_dml" -> { (s, dir) =>
      import graft.sinks.SnapshotTable
      val root = SnapshotCycle.root(s, dir)
      SnapshotTable
        .read(s, root)
        .groupBy(year(col("d")).cast("int").as("y"))
        .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"))
        .orderBy("y")
    },
    // MERGE-ON-READ DML in the ORACLE GATE — deletion masks, the mode
    // whose write cost is O(change) never O(table): a SCATTERED-KEY
    // upsert (k%7=0 spans every file of the d-clustered table — the
    // copy-on-write worst case SCALING.md measured as a 32/32-file
    // rewrite) lands as source dir + key-tombstone sidecar + manifest
    // mask with ZERO target files read or rewritten; then a 1995 range
    // delete commits METADATA-ONLY (interior files dropped via stats,
    // boundary files predicate-masked). Reads apply the masks (filter /
    // anti-join on only the masked files); the oracle replays the
    // merge→delete algebra on the fixture, so the hash-match proves
    // merge-on-read ≡ copy-on-write semantics end-to-end.
    // SnapshotMorSpec pins the economics (zero rewrites, file counts),
    // reconciliation, CDC mask-deltas, and vacuum sidecar liveness.
    "q_snapshot_dv" -> { (s, dir) =>
      import graft.sinks.SnapshotTable
      import graft.sinks.SnapshotTable.Bound
      val root = "/tmp/graft-snapdv/" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      val o = Fixtures
        .table(s, dir, "orders")
        .select(
          col("o_orderkey").as("k"),
          to_date(col("o_orderdate")).as("d"),
          cents(col("o_totalprice")).as("price_c"))
      val par = s.sparkContext.defaultParallelism
      SnapshotTable.create(
        s, root, o.repartitionByRange(par, col("d")).sortWithinPartitions("d")) // v1
      SnapshotTable.mergeUpsertMor(
        s, root,
        o.filter(col("k") % 7 === 0).withColumn("price_c", col("price_c") * 2),
        Seq("k")) // v2: zero target rewrites
      SnapshotTable.deleteWhereMor(
        s, root, Seq(Bound("d", Some("1995-01-01"), Some("1995-12-31")))) // v3: metadata-only
      SnapshotTable
        .read(s, root)
        .groupBy(year(col("d")).cast("int").as("y"))
        .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"))
        .orderBy("y")
    },
    // The SAME DML algebra driven through SQL TEXT — DELETE FROM /
    // UPDATE / MERGE INTO statements parsed by Spark's own parser and
    // routed ([[SnapshotSql]]) onto the transactional operators: the
    // oracle row is IDENTICAL to q_snapshot_dml's, so the hash-match
    // proves statement-driven DML is indistinguishable from the
    // programmatic API (range conditions ride the same manifest-stat
    // pruning and whole-file drop fast paths; SnapshotSqlSpec asserts the
    // commit logs match action-for-action).
    "q_snapshot_dml_sql" -> { (s, dir) =>
      import graft.sinks.SnapshotTable
      val root = SnapshotCycle.sqlRoot(s, dir)
      SnapshotTable
        .read(s, root)
        .groupBy(year(col("d")).cast("int").as("y"))
        .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"))
        .orderBy("y")
    },
    // The SAME DML algebra a THIRD way — through CATALOG identifiers:
    // `spark.sql("DELETE FROM <cat>.c.orders …")` resolved by Spark's own
    // analyzer via [[GraftCatalog]] and lowered by [[GraftDmlStrategy]]
    // (planner interception — built-in strategies would refuse a table
    // without SupportsRowLevelOperations) onto the same transactional
    // executors. The oracle row is IDENTICAL to q_snapshot_dml's, so the
    // hash-match proves zero-registration catalog DML ≡ the programmatic
    // API ≡ the SQL-text router (GraftCatalogSpec pins the routing and
    // refusal shapes).
    // Staged-catalog lifecycle in the ORACLE GATE: atomic CTAS with a
    // temporal PARTITIONED BY transform (days(d) → d range clustering),
    // then REPLACE TABLE AS SELECT re-declaring a narrower schema as ONE
    // `replace` commit. The final read unions the CURRENT (post-replace)
    // aggregate with VERSION AS OF 1 — the hash-match proves the staged
    // CTAS landed the full fixture data-identically AND that REPLACE
    // preserved the prior version byte-exactly where a drop-and-recreate
    // would have destroyed it (GraftCatalogSpec pins the commit shapes).
    "q_catalog_replace" -> { (s, dir) =>
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val wh = "/tmp/graft-snapreplace/" + safe
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true) // idempotent rebuild
      val cat = "grepl_" + safe
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sinks.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val view = cat + "_src"
      SnapshotCycle.ordersOf(s, dir).createOrReplaceTempView(view)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.r")
      s.sql(
        s"CREATE TABLE $cat.r.orders USING graft PARTITIONED BY (days(d)) AS " +
          s"SELECT * FROM $view") // v1: one atomic staged-CTAS commit
      s.sql(
        s"REPLACE TABLE $cat.r.orders USING graft AS " +
          s"SELECT k, price_c FROM $view WHERE year(d) = 1996") // v2: one replace commit
      s.sql(
        s"SELECT 'cur' AS era, count(*) AS n_rows, sum(price_c) AS sum_price_c " +
          s"FROM $cat.r.orders " +
          s"UNION ALL " +
          s"SELECT 'v1' AS era, count(*) AS n_rows, sum(price_c) AS sum_price_c " +
          s"FROM $cat.r.orders VERSION AS OF 1 " +
          s"ORDER BY era")
    },
    "q_catalog_dml" -> { (s, dir) =>
      import graft.sinks.SnapshotTable
      val root = SnapshotCycle.catalogRoot(s, dir)
      SnapshotTable
        .read(s, root)
        .groupBy(year(col("d")).cast("int").as("y"))
        .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"))
        .orderBy("y")
    },
    // Row-level CHANGE-DATA-CAPTURE over the same DML cycle:
    // changesBetween diffs each commit's touched files via EXCEPT ALL
    // (carried files never read, unchanged rows in rewritten files cancel),
    // so the emitted stream is exactly the rows each commit inserted or
    // deleted. The oracle derives every commit's row-level delta from the
    // fixture independently — the hash-match proves the file-diff CDC
    // reconstructs the true change stream.
    "q_snapshot_cdc" -> { (s, dir) =>
      import graft.sinks.SnapshotTable
      val root = SnapshotCycle.root(s, dir)
      SnapshotTable
        .changesBetween(s, root, 1, 4)
        .groupBy(col("_commit_version").as("v"), col("_change_type").as("op"))
        .agg(count(lit(1)).as("n"), sum("k").as("key_sum"), sum("price_c").as("price_sum"))
        .orderBy("v", "op")
    },
    // GENERAL (conditional / multi-action) MERGE in the ORACLE GATE — the
    // full Delta-shaped statement beyond the canonical upsert: matched
    // rows walk first-match-wins WHEN clauses (a BOTH-SIDE condition
    // gates the update, the unconditional DELETE catches the rest), and
    // unmatched source rows insert only under their own condition with
    // an explicit VALUES list. Routed through Spark's parser onto
    // SnapshotTable.mergeInto, which keeps mergeUpsert's economics (the
    // envelope prune + key-only touched-file probe bound the rewrite to
    // files that actually contain a matched key). The oracle replays the
    // clause algebra directly on the fixture — the hash-match proves the
    // executor's first-match-wins/insert-condition semantics end-to-end.
    "q_snapshot_merge_cond" -> { (s, dir) =>
      import graft.sinks.{SnapshotSql, SnapshotTable}
      val root = "/tmp/graft-snapmc/" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      val o = Fixtures
        .table(s, dir, "orders")
        .select(
          col("o_orderkey").as("k"),
          to_date(col("o_orderdate")).as("d"),
          cents(col("o_totalprice")).as("price_c"))
      val par = s.sparkContext.defaultParallelism
      SnapshotTable.create(
        s, root, o.repartitionByRange(par, col("k")).sortWithinPartitions("k"))
      val table = "snap_mc_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      SnapshotSql.register(s, table, root)
      val srcView = table + "_src"
      // matched half: every k%5=0 key at doubled price; unmatched half:
      // k%15=0 keys NEGATED out of the key space (o_orderkey is always
      // positive at EVERY scale factor — an additive shift would collide
      // with live keys at sf>=100; negation is parity-preserving, which
      // the insert condition relies on) at price 42
      o.filter(col("k") % 5 === 0)
        .withColumn("price_c", col("price_c") * 2)
        .unionByName(
          o.filter(col("k") % 15 === 0)
            .select((-col("k") - 1000L).as("k"), col("d"), lit(42L).as("price_c")))
        .createOrReplaceTempView(srcView)
      SnapshotSql.execute(
        s,
        s"MERGE INTO $table AS t USING $srcView AS s ON t.k = s.k " +
          "WHEN MATCHED AND s.price_c > t.price_c + 100000 THEN UPDATE SET price_c = s.price_c " +
          "WHEN MATCHED THEN DELETE " +
          "WHEN NOT MATCHED AND s.k % 2 = 0 THEN INSERT (k, d, price_c) VALUES (s.k, s.d, s.price_c)")
      SnapshotTable
        .read(s, root)
        .groupBy(year(col("d")).cast("int").as("y"))
        .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"))
        .orderBy("y")
    },
    // WHEN NOT MATCHED BY SOURCE in the ORACLE GATE — the clause over
    // unmatched TARGET rows: a conditional matched DELETE prunes the
    // priced-out keys the source names, and a BY SOURCE range-conditioned
    // UPDATE zeroes 1995 prices on every row the source does NOT name —
    // its rewrite set pruned through the condition's date-range skeleton
    // (the d-clustered table carries non-1995 files untouched). The
    // oracle replays the clause algebra; the hash-match proves the
    // complementary-gate evaluation (matched vs by-source on one
    // projection) end-to-end.
    "q_snapshot_merge_nbs" -> { (s, dir) =>
      import graft.sinks.{SnapshotSql, SnapshotTable}
      val root = "/tmp/graft-snapnbs/" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      val o = Fixtures
        .table(s, dir, "orders")
        .select(
          col("o_orderkey").as("k"),
          to_date(col("o_orderdate")).as("d"),
          cents(col("o_totalprice")).as("price_c"))
      val par = s.sparkContext.defaultParallelism
      SnapshotTable.create(
        s, root, o.repartitionByRange(par, col("d")).sortWithinPartitions("d"))
      val table = "snap_nbs_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      SnapshotSql.register(s, table, root)
      val srcView = table + "_src"
      o.filter(col("k") % 3 === 0).createOrReplaceTempView(srcView)
      SnapshotSql.execute(
        s,
        s"MERGE INTO $table AS t USING $srcView AS s ON t.k = s.k " +
          "WHEN MATCHED AND t.price_c > 20000000 THEN DELETE " +
          "WHEN NOT MATCHED BY SOURCE AND t.d BETWEEN DATE'1995-01-01' AND DATE'1995-12-31' " +
          "THEN UPDATE SET price_c = 0")
      SnapshotTable
        .read(s, root)
        .groupBy(year(col("d")).cast("int").as("y"))
        .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"))
        .orderBy("y")
    },
    // BRANCHES + TAGS in the ORACLE GATE — the zero-copy ref model
    // end-to-end: tag the created table (pinned, vacuum-proof read
    // handle), fork a branch, run the ETL (append + range delete) in
    // BRANCH ISOLATION over the shared data files, then fast-forward the
    // branch log onto main through the put-if-absent commit store — the
    // write-audit-publish workflow a production pipeline stages batches
    // through. The result unions main's post-publish state with the
    // tagged pre-fork snapshot; the oracle replays both directly on the
    // fixture, so the hash-match proves fork isolation, pre-fork manifest
    // sharing, publish fidelity, and tag time travel in one row.
    // SnapshotBranchSpec pins the mechanics (divergence refusal, resume,
    // vacuum liveness, CDC namespacing).
    "q_snapshot_branch" -> { (s, dir) =>
      import graft.sinks.SnapshotTable
      import graft.sinks.SnapshotTable.Bound
      val root = "/tmp/graft-snapbr/" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      val o = Fixtures
        .table(s, dir, "orders")
        .select(
          col("o_orderkey").as("k"),
          to_date(col("o_orderdate")).as("d"),
          cents(col("o_totalprice")).as("price_c"))
      SnapshotTable.create(s, root, o.filter(col("k") % 2 === 0)) // v1: even keys
      SnapshotTable.createTag(s, root, "pre") // pins v1
      val etl = SnapshotTable.createBranch(s, root, "etl") // forks at v1
      SnapshotTable.append(s, etl, o.filter(col("k") % 2 === 1)) // branch v2
      SnapshotTable.deleteWhere(
        s, etl, Seq(Bound("d", Some("1995-01-01"), Some("1995-12-31")))) // branch v3
      SnapshotTable.fastForward(s, root, "etl") // publish: main → v3
      def agg(df: org.apache.spark.sql.DataFrame, src: String) =
        df.groupBy(year(col("d")).cast("int").as("y"))
          .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"))
          .withColumn("src", lit(src))
      agg(SnapshotTable.read(s, root), "main")
        .unionByName(
          agg(
            SnapshotTable.readVersion(s, root, SnapshotTable.tagVersion(s, root, "pre")),
            "tag_pre"))
        .orderBy("src", "y")
    },
    // BRANCH REBASE in the ORACLE GATE — the full diverged-workflow
    // cycle: a branch stages an append + a recorded-bounds MOR delete +
    // a keys-MOR merge while MAIN independently appends and COW-updates;
    // rebase REPLAYS the branch's commits onto main's tip by their
    // commutation rules (the append's immutable dirs re-attach verbatim,
    // so the branch's odd-key rows keep PRE-update prices; the delete
    // re-executes its recorded bounds against the new base, so rows main
    // added post-fork that match are deleted too; the merge re-executes
    // from its recorded key sidecar, masking main's updated rows and
    // re-inserting at fork-time source prices), and fastForward publishes
    // the rebased chain. The oracle replays the exact re-run algebra —
    // the hash-match proves rebase ≡ re-running the branch's work on the
    // new base, the git-rebase contract.
    "q_snapshot_rebase" -> { (s, dir) =>
      import graft.sinks.SnapshotTable
      import graft.sinks.SnapshotTable.Bound
      val root = "/tmp/graft-snaprb/" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      val o = Fixtures
        .table(s, dir, "orders")
        .select(
          col("o_orderkey").as("k"),
          to_date(col("o_orderdate")).as("d"),
          cents(col("o_totalprice")).as("price_c"))
      SnapshotTable.create(s, root, o.filter(col("k") % 2 === 0)) // main v1: even keys
      val stage = SnapshotTable.createBranch(s, root, "stage") // forks at v1
      SnapshotTable.append(s, stage, o.filter(col("k") % 2 === 1)) // branch v2
      SnapshotTable.deleteWhereMor(
        s, stage, Seq(Bound("d", Some("1995-01-01"), Some("1995-12-31")))) // branch v3 (recorded bounds)
      SnapshotTable.mergeUpsertMor(
        s, stage,
        o.filter(col("k") % 10 === 0).withColumn("price_c", col("price_c") * 2),
        Seq("k")) // branch v4 (recorded key sidecar + immutable insert dir)
      // main diverges past the fork
      SnapshotTable.append(
        s, root,
        o.filter(col("k") % 1000 === 1)
          .select(col("k") + 20000000L as "k", col("d"), col("price_c"))) // main v2
      SnapshotTable.updateWhere(
        s, root, Seq(Bound("d", Some("1996-01-01"), Some("1996-12-31"))),
        Map("price_c" -> (col("price_c") + 100))) // main v3 (COW)
      SnapshotTable.rebase(s, root, "stage") // replay v2..v4 onto main v3
      SnapshotTable.fastForward(s, root, "stage") // publish: main → v6
      SnapshotTable
        .read(s, root)
        .groupBy(year(col("d")).cast("int").as("y"))
        .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"))
        .orderBy("y")
    },
    // LOSSLESS TYPE WIDENING in the ORACLE GATE — the schema-drift edge
    // every long-lived table hits: the narrow era commits INT keys and
    // FLOAT prices, ONE metadata-only ALTER widens them (int→long,
    // float→double — zero data rewrite at any size; Spark 4's parquet
    // readers upcast the old files at scan time), and the wide era
    // appends keys BEYOND the int range — the very thing the widening
    // exists for. The oracle replays both eras' arithmetic (REAL-cast
    // then DOUBLE for the narrow prices — the same IEEE truncation) —
    // the hash-match proves old bytes read back value-exact at the new
    // type across a mixed-era scan.
    "q_snapshot_widen" -> { (s, dir) =>
      import graft.sinks.SnapshotTable
      import org.apache.spark.sql.types.{DoubleType, LongType, TimestampNTZType}
      val root = "/tmp/graft-snapwd/" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      val o = Fixtures.table(s, dir, "orders")
      SnapshotTable.create(
        s, root,
        o.filter(col("o_orderkey") % 2 === 0)
          .select(
            col("o_orderkey").cast("int").as("k"),
            col("o_totalprice").cast("float").as("p"),
            to_date(col("o_orderdate")).as("d"))) // v1: narrow era (INT32 date bytes)
      SnapshotTable.alterSchema(
        s, root,
        Seq(
          SnapshotTable.WidenCol("k", LongType),
          SnapshotTable.WidenCol("p", DoubleType),
          SnapshotTable.WidenCol("d", TimestampNTZType))) // v2: metadata-only
      SnapshotTable.append(
        s, root,
        o.filter(col("o_orderkey") % 2 === 1)
          .select(
            (col("o_orderkey") + 3000000000L).as("k"), // beyond INT range
            (col("o_totalprice") * 2).cast("double").as("p"),
            // intraday precision — what the date era could not hold
            expr("CAST(o_orderdate AS TIMESTAMP_NTZ) + INTERVAL 6 HOURS").as("d"))) // v3: wide era
      SnapshotTable
        .read(s, root)
        .groupBy((col("k") % 7).as("g"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(floor(col("p") * 100 + lit(0.5)).cast("long")).as("sum_p_c"),
          max(col("k")).as("max_k"),
          date_format(max(col("d")), "yyyy-MM-dd HH:mm:ss").as("max_d"))
        .orderBy("g")
    },
    // COW REBASE in the ORACLE GATE — the round-18 replay rule: a branch
    // stages COPY-ON-WRITE update + delete + merge (all with write-time
    // CDC capture) while main independently appends; rebase replays each
    // COW commit by APPLYING ITS CAPTURED ROW DELTA onto the new base
    // (pre-images subtract by full-row exceptAll, post-images re-land,
    // the merge's source dir re-attaches zero-copy), and fastForward
    // publishes. The oracle replays the same algebra over the raw orders
    // frame — the hash-match proves replay-by-delta ≡ re-running the
    // branch's DML on the diverged base when pre-images are untouched
    // (interference refuses loudly instead; SnapshotBranchSpec pins it).
    // The 7-commit workflow (create + branch + 3 captured COW DML + append
    // + rebase/fast-forward) is memo-shared like the [[SnapshotCycle]] DML
    // family: the bench sweep's first run PAYS the fixture (labeled
    // memo_paid), warm reruns measure the read kernel — per-commit
    // protocol latency is fixture cost, not query cost (r18 bench-hygiene
    // ask #2).
    "q_snapshot_rebase_cow" -> { (s, dir) =>
      import graft.sinks.SnapshotTable
      val root = SnapshotCycle.rebaseCowRoot(s, dir)
      SnapshotTable
        .read(s, root)
        .groupBy(year(col("d")).cast("int").as("y"))
        .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"))
        .orderBy("y")
    },
    // CATALOG STREAMING ROUND TRIP in the ORACLE GATE — the round-19
    // write half end-to-end: `readStream.table` over a catalog source,
    // a transform, and `writeStream.toTable` through the two-phase DSv2
    // sink (executor-staged parquet → one exactly-once epoch commit).
    // Two AvailableNow drains on ONE checkpoint: the first ships the
    // snapshot, the second ships EXACTLY the post-drain append — the
    // oracle hash over the destination proves snapshot + incremental
    // epochs landed each row exactly once through the catalog sink. The
    // two-drain fixture is memo-shared like the DML cycles (payer labeled
    // memo_paid in the bench sweep; warm reruns measure the read kernel).
    "q_stream_catalog_sink" -> { (s, dir) =>
      import graft.sinks.SnapshotTable
      val dst = SnapshotCycle.streamSinkRoot(s, dir)
      SnapshotTable
        .read(s, dst)
        .groupBy(month(col("d")).cast("int").as("m"))
        .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"))
        .orderBy("m")
    },
    // INCREMENTAL MATERIALIZED VIEW in the ORACLE GATE — the per-date
    // aggregate (count + null-exact sum) materialized as its own snapshot
    // table SYNCED AT v1 of the shared [[SnapshotCycle]] fixture
    // (asOfVersion: the backfill-then-follow shape), then caught up
    // through the base's CDC feed across the cycle's three DML commits —
    // whole GROUPS vanishing (the 1995 range delete empties ~365 dates),
    // sums shifting without count changes (the COW update), and the
    // merge's delete+insert pairs (1995 dates re-enter: group rebirth).
    // refresh() reads ONLY the commits since its sync point and merges
    // per-group deltas — cost ∝ changes, never ∝ base, the economics that
    // make a view over a 100-TB fact table refreshable per commit. The
    // oracle recomputes the aggregate from the replayed base algebra —
    // the hash-match proves refresh ≡ full recompute. Sharing the cycle
    // memo (like q_snapshot_dml/cdc/sql) means the bench row measures the
    // REFRESH KERNEL (v1 aggregate + 3-commit CDC delta + merge), not a
    // private fixture build; the MOR-masked delta shape stays spec-proven
    // in SnapshotMvSpec (group rebirth through masks, null-exact sums,
    // exactly-once replay, restore passthrough, vacuumed pre-sync
    // history).
    "q_mv_refresh" -> { (s, dir) =>
      import graft.sinks.SnapshotMv
      val base = SnapshotCycle.root(s, dir) // memo-shared 4-commit cycle
      val mv = "/tmp/graft-snapmv/" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(mv)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      SnapshotMv.create(s, base, mv, keys = Seq("d"), sums = Seq("price_c"), asOfVersion = Some(1))
      SnapshotMv.refresh(s, mv) // applies the v2..v4 CDC delta
      SnapshotMv.read(s, mv).orderBy("d")
    },
    // The snapshot table as a CATALYST-INTEGRATED relation: plain SQL over
    // a registered view of SnapshotTable.relation — the pushed-down date
    // predicate reaches SnapshotFileIndex.listFiles during physical
    // planning and prunes files through the manifest stats, with no
    // readWhere call anywhere (SnapshotCatalystSpec proves numFiles
    // actually drops; this gate proves exactness over the DML-carried
    // manifest: the view serves the post-delete/update/merge table, so the
    // oracle replays the full DML algebra plus the date slice).
    "q_snapshot_sql" -> { (s, dir) =>
      import graft.sinks.SnapshotTable
      val root = SnapshotCycle.root(s, dir)
      SnapshotTable.relation(s, root).createOrReplaceTempView("snapshot_orders")
      s.sql(
        "SELECT CAST(year(d) AS INT) AS y, CAST(month(d) AS INT) AS m, " +
          "count(*) AS n_rows, sum(price_c) AS sum_price_c " +
          "FROM snapshot_orders WHERE d BETWEEN DATE'1996-01-01' AND DATE'1996-12-31' " +
          "GROUP BY 1, 2 ORDER BY y, m")
    },
    // Metadata-only schema DDL in the ORACLE GATE: build a table, RENAME
    // the price column (zero rewrite — the physical parquet name freezes
    // in the field metadata), DELETE through a bound on the RENAMED
    // column, append new rows under the new name (they land under the
    // frozen physical name), DROP a column, and aggregate the result
    // under the final schema. The oracle replays the same algebra on the
    // fixture — the hash-match proves the logical/physical mapping is
    // invisible to every result a user sees.
    "q_snapshot_ddl" -> { (s, dir) =>
      import graft.sinks.SnapshotTable
      import graft.sinks.SnapshotTable.Bound
      val root = "/tmp/graft-snapddl/" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      val o = Fixtures
        .table(s, dir, "orders")
        .select(
          col("o_orderkey").as("k"),
          to_date(col("o_orderdate")).as("d"),
          cents(col("o_totalprice")).as("price_c"))
      SnapshotTable.create(s, root, o)
      SnapshotTable.renameColumn(s, root, "price_c", "amount_c")
      // delete through a bound on the RENAMED column: all amounts >= $200k
      SnapshotTable.deleteWhere(s, root, Seq(Bound("amount_c", Some(20000000L), None)))
      // append under the new name: every k%1000==0 key returns at amount 1
      SnapshotTable.append(
        s,
        root,
        o.filter(col("k") % 1000 === 0)
          .select(col("k") + 10000000L as "k", col("d"), lit(1L).as("amount_c")))
      SnapshotTable.dropColumn(s, root, "d")
      SnapshotTable
        .read(s, root)
        .agg(
          count(lit(1)).as("n_rows"),
          sum("amount_c").as("sum_amount_c"),
          sum(col("k") % 1000000L).as("key_sum"))
    },
    // EQUALITY point lookup through the manifest Bloom index: the probe
    // column is a 71-char string — past the 64-char min/max stat cap, so
    // range stats are blind to it and only the per-file bloom (m=4096,
    // k=4, murmur3+xxhash64 double hashing, built inside the post-write
    // stats scan) can prune. readWhere with lower==upper consults it; the
    // result is EXACTLY read-then-filter (hash-checked here), and that the
    // bloom actually skips files — including on unclustered long keys
    // where [min,max] spans every file — is SnapshotTableSpec's job.
    "q_snapshot_eq" -> { (s, dir) =>
      import graft.sinks.SnapshotTable
      import graft.sinks.SnapshotTable.Bound
      val root = "/tmp/graft-snapeq/" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      val o = Fixtures
        .table(s, dir, "orders")
        .select(col("o_orderkey").as("k"), cents(col("o_totalprice")).as("price_c"))
        .withColumn("tag", concat(lit("x" * 70), expr("CAST(k div 1000 AS STRING)")))
      SnapshotTable.create(s, root, o)
      SnapshotTable.compact(s, root, "k", nFiles = s.sparkContext.defaultParallelism)
      val probe = "x" * 70 + "2"
      SnapshotTable
        .readWhere(s, root, Seq(Bound("tag", Some(probe), Some(probe))))
        .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"), sum("k").as("key_sum"))
    }
  )

  val oracle: Map[String, String] = Map(
    "q_scan_parquet" ->
      "SELECT l_returnflag, count(*) AS n_rows, CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_c FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "q_scan_schema_json" ->
      "SELECT CAST(json_extract_string(props,'$.k') AS INT) AS k, count(*) AS n FROM events GROUP BY 1 ORDER BY k",
    "q_etl_incremental" ->
      "SELECT lpad(CAST(p_partkey AS VARCHAR),12,'0') AS upc, p_name FROM part WHERE (p_partkey % 3) <> 0 ORDER BY upc",
    "q_cdc_snapshot_diff" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_c FROM orders), " +
        "old AS (SELECT k, price_c AS old_c FROM o WHERE k % 97 <> 0), " +
        "neu AS (SELECT k, price_c + CASE WHEN k % 13 = 0 THEN 100 ELSE 0 END AS new_c FROM o WHERE k % 89 <> 0), " +
        "d AS (SELECT coalesce(old.k, neu.k) AS k, CASE WHEN old_c IS NULL THEN 'I' WHEN new_c IS NULL THEN 'D' " +
        "WHEN old_c <> new_c THEN 'U' ELSE 'N' END AS op FROM old FULL OUTER JOIN neu ON old.k = neu.k) " +
        "SELECT op, CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS key_sum " +
        "FROM d WHERE op <> 'N' GROUP BY 1 ORDER BY 1"),
    "q_snapshot_timetravel" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_c FROM orders), " +
        "v AS (SELECT CAST(1 AS INT) AS version, 0 AS hi UNION ALL SELECT 2, 1 UNION ALL SELECT 3, 2 UNION ALL SELECT 4, 2) " +
        "SELECT version, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(price_c) AS BIGINT) AS sum_price_c " +
        "FROM v JOIN o ON (o.k % 10) <= v.hi GROUP BY version ORDER BY version"),
    "q_snapshot_pruned" ->
      ("SELECT CAST(year(o_orderdate)*100 + month(o_orderdate) AS INT) AS ym, " +
        "CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_c " +
        "FROM orders WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31' " +
        "GROUP BY 1 ORDER BY ym"),
    "q_snapshot_dml" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d, " +
        "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_c FROM orders), " +
        // delete 1995 (merge later reinserts k%7=0 keys), update 1997 +500c,
        // merge replaces every k%7=0 row with the doubled-price source row
        "fin AS (SELECT k, d, CASE WHEN k % 7 = 0 THEN price_c * 2 " +
        "WHEN year(d) = 1997 THEN price_c + 500 ELSE price_c END AS price_c " +
        "FROM o WHERE k % 7 = 0 OR year(d) <> 1995) " +
        "SELECT CAST(year(d) AS INT) AS y, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(price_c) AS BIGINT) AS sum_price_c FROM fin GROUP BY 1 ORDER BY y"),
    "q_snapshot_dv" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d, " +
        "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_c FROM orders), " +
        // v2 merge replaces every k%7=0 row with its doubled-price source
        // row; v3 deletes ALL 1995 rows (including replaced ones)
        "m AS (SELECT k, d, CASE WHEN k % 7 = 0 THEN price_c * 2 ELSE price_c END AS price_c FROM o) " +
        "SELECT CAST(year(d) AS INT) AS y, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(price_c) AS BIGINT) AS sum_price_c FROM m WHERE year(d) <> 1995 " +
        "GROUP BY 1 ORDER BY y"),
    // deliberately the SAME oracle as q_snapshot_dml: the SQL-text route
    // must land on an unchanged hash
    "q_snapshot_dml_sql" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d, " +
        "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_c FROM orders), " +
        "fin AS (SELECT k, d, CASE WHEN k % 7 = 0 THEN price_c * 2 " +
        "WHEN year(d) = 1997 THEN price_c + 500 ELSE price_c END AS price_c " +
        "FROM o WHERE k % 7 = 0 OR year(d) <> 1995) " +
        "SELECT CAST(year(d) AS INT) AS y, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(price_c) AS BIGINT) AS sum_price_c FROM fin GROUP BY 1 ORDER BY y"),
    // deliberately the SAME oracle again: the catalog-identifier route
    // must land on an unchanged hash too
    "q_catalog_replace" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d, " +
        "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_c FROM orders) " +
        "SELECT 'cur' AS era, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(price_c) AS BIGINT) AS sum_price_c FROM o WHERE year(d) = 1996 " +
        "UNION ALL SELECT 'v1' AS era, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(price_c) AS BIGINT) AS sum_price_c FROM o ORDER BY era"),
    "q_catalog_dml" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d, " +
        "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_c FROM orders), " +
        "fin AS (SELECT k, d, CASE WHEN k % 7 = 0 THEN price_c * 2 " +
        "WHEN year(d) = 1997 THEN price_c + 500 ELSE price_c END AS price_c " +
        "FROM o WHERE k % 7 = 0 OR year(d) <> 1995) " +
        "SELECT CAST(year(d) AS INT) AS y, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(price_c) AS BIGINT) AS sum_price_c FROM fin GROUP BY 1 ORDER BY y"),
    "q_snapshot_merge_nbs" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d, " +
        "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_c FROM orders), " +
        // matched (k%3=0): deleted iff price > 200000.00; else kept as-is
        // (no further matched clause). Unmatched (k%3<>0): 1995 rows
        // update to price 0, the rest keep.
        "fin AS (SELECT k, d, price_c FROM o WHERE k % 3 = 0 AND price_c <= 20000000 " +
        "UNION ALL SELECT k, d, CASE WHEN year(d) = 1995 THEN 0 ELSE price_c END " +
        "FROM o WHERE k % 3 <> 0) " +
        "SELECT CAST(year(d) AS INT) AS y, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(price_c) AS BIGINT) AS sum_price_c FROM fin GROUP BY 1 ORDER BY y"),
    "q_snapshot_merge_cond" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d, " +
        "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_c FROM orders), " +
        // matched (k%5=0): sp=2*tp, so "sp > tp+100000" ⟺ tp > 100000 →
        // update to sp; the rest of the matched rows hit the DELETE clause.
        // unmatched source (negated k%15=0, disjoint from the positive key
        // space at any sf): inserts only when the negated key is even ⟺
        // k is even ⟺ k%30=0, at price 42.
        "fin AS (SELECT k, d, price_c FROM o WHERE k % 5 <> 0 " +
        "UNION ALL SELECT k, d, price_c * 2 FROM o WHERE k % 5 = 0 AND price_c > 100000 " +
        "UNION ALL SELECT -k - 1000, d, CAST(42 AS BIGINT) FROM o WHERE k % 30 = 0) " +
        "SELECT CAST(year(d) AS INT) AS y, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(price_c) AS BIGINT) AS sum_price_c FROM fin GROUP BY 1 ORDER BY y"),
    // the re-run algebra of the rebased branch on the diverged main:
    // evens keep main's 1996 bump except the masked k%10 keys, the
    // branch's appended odds re-attach at PRE-update prices, main's
    // post-fork 20M keys obey the replayed 1995 delete, and the merge
    // re-inserts every k%10 source row at doubled fork-time price
    "q_snapshot_rebase" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d, " +
        "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_c FROM orders), " +
        "evens AS (SELECT k, d, CASE WHEN year(d) = 1996 THEN price_c + 100 ELSE price_c END AS price_c " +
        "FROM o WHERE k % 2 = 0 AND year(d) <> 1995 AND k % 10 <> 0), " +
        "odds AS (SELECT k, d, price_c FROM o WHERE k % 2 = 1 AND year(d) <> 1995), " +
        "exts AS (SELECT k + 20000000 AS k, d, CASE WHEN year(d) = 1996 THEN price_c + 100 ELSE price_c END " +
        "FROM o WHERE k % 1000 = 1 AND year(d) <> 1995), " +
        "ups AS (SELECT k, d, price_c * 2 FROM o WHERE k % 10 = 0), " +
        "fin AS (SELECT * FROM evens UNION ALL SELECT * FROM odds " +
        "UNION ALL SELECT * FROM exts UNION ALL SELECT * FROM ups) " +
        "SELECT CAST(year(d) AS INT) AS y, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(price_c) AS BIGINT) AS sum_price_c FROM fin GROUP BY 1 ORDER BY y"),
    // both eras replayed with the SAME float truncation Spark applied:
    // narrow-era prices round through REAL before the DOUBLE read
    "q_snapshot_widen" ->
      ("WITH ev AS (SELECT o_orderkey % 7 AS g, " +
        "CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS p, o_orderkey AS k, " +
        "CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS d " + // date era reads at midnight
        "FROM orders WHERE o_orderkey % 2 = 0), " +
        "od AS (SELECT (o_orderkey + 3000000000) % 7 AS g, " +
        "CAST(o_totalprice * 2 AS DOUBLE) AS p, o_orderkey + 3000000000 AS k, " +
        "CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) + INTERVAL 6 HOUR AS d " +
        "FROM orders WHERE o_orderkey % 2 = 1), " +
        "fin AS (SELECT * FROM ev UNION ALL SELECT * FROM od) " +
        "SELECT CAST(g AS BIGINT) AS g, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(CAST(floor(p*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_p_c, " +
        "CAST(max(k) AS BIGINT) AS max_k, " +
        "strftime(max(d), '%Y-%m-%d %H:%M:%S') AS max_d FROM fin GROUP BY 1 ORDER BY g"),
    // the apply-the-captured-delta algebra of the COW rebase: evens keep
    // the branch's 1996 bump and 1995 delete except the k%20 keys the
    // merge replaced at 3× fork-time price (deleted 1995 k%20 rows
    // re-enter through the merge's insert leg), and main's post-fork odd
    // appends ride through untouched
    "q_snapshot_rebase_cow" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d, " +
        "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_c FROM orders), " +
        "evens AS (SELECT k, d, CASE WHEN year(d) = 1996 THEN price_c + 77 ELSE price_c END AS price_c " +
        "FROM o WHERE k % 2 = 0 AND k % 20 <> 0 AND year(d) <> 1995), " +
        "ups AS (SELECT k, d, price_c * 3 FROM o WHERE k % 20 = 0), " +
        "odds AS (SELECT k, d, price_c FROM o WHERE k % 2 = 1), " +
        "fin AS (SELECT * FROM evens UNION ALL SELECT * FROM ups UNION ALL SELECT * FROM odds) " +
        "SELECT CAST(year(d) AS INT) AS y, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(price_c) AS BIGINT) AS sum_price_c FROM fin GROUP BY 1 ORDER BY y"),
    // the destination of the catalog streaming round trip must equal the
    // transform over BOTH source eras — each row exactly once across the
    // snapshot and incremental drains
    "q_stream_catalog_sink" ->
      ("WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d, " +
        "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) + 5 AS price_c FROM orders " +
        "WHERE year(CAST(o_orderdate AS DATE)) = 1996) " +
        "SELECT CAST(month(d) AS INT) AS m, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(price_c) AS BIGINT) AS sum_price_c FROM o GROUP BY 1 ORDER BY m"),
    // the MV synced at cycle v1 then refreshed to v4 must equal the full
    // recompute over the cycle's FINAL state (same replay CTE as
    // q_snapshot_dml, grouped by the view's date key)
    "q_mv_refresh" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d, " +
        "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_c FROM orders), " +
        "fin AS (SELECT k, d, CASE WHEN k % 7 = 0 THEN price_c * 2 " +
        "WHEN year(d) = 1997 THEN price_c + 500 ELSE price_c END AS price_c " +
        "FROM o WHERE k % 7 = 0 OR year(d) <> 1995) " +
        "SELECT d, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(price_c) AS BIGINT) AS price_c FROM fin GROUP BY 1 ORDER BY d"),
    "q_snapshot_branch" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d, " +
        "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_c FROM orders), " +
        // main after the branch publish: all orders minus 1995 (the branch
        // appended the odd keys, then range-deleted 1995, then fast-
        // forwarded); tag_pre: the pinned pre-fork snapshot (even keys)
        "fin AS (SELECT 'main' AS src, CAST(year(d) AS INT) AS y, " +
        "CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(price_c) AS BIGINT) AS sum_price_c " +
        "FROM o WHERE year(d) <> 1995 GROUP BY 2 " +
        "UNION ALL SELECT 'tag_pre', CAST(year(d) AS INT), CAST(count(*) AS BIGINT), " +
        "CAST(sum(price_c) AS BIGINT) FROM o WHERE k % 2 = 0 GROUP BY 2) " +
        "SELECT src, y, n_rows, sum_price_c FROM fin ORDER BY src, y"),
    "q_snapshot_cdc" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d, " +
        "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_c FROM orders), " +
        "ch AS (" +
        // v2 delete: every 1995 row leaves at its original price
        "SELECT 2 AS v, 'delete' AS op, k, price_c FROM o WHERE year(d) = 1995 " +
        // v3 update: each 1997 row = delete(old) + insert(old+500)
        "UNION ALL SELECT 3, 'delete', k, price_c FROM o WHERE year(d) = 1997 " +
        "UNION ALL SELECT 3, 'insert', k, price_c + 500 FROM o WHERE year(d) = 1997 " +
        // v4 merge: k%7=0 rows present at v3 (year<>1995, 1997 already
        // updated) leave; ALL k%7=0 source rows land at doubled price
        "UNION ALL SELECT 4, 'delete', k, CASE WHEN year(d) = 1997 THEN price_c + 500 ELSE price_c END " +
        "FROM o WHERE k % 7 = 0 AND year(d) <> 1995 " +
        "UNION ALL SELECT 4, 'insert', k, price_c * 2 FROM o WHERE k % 7 = 0) " +
        "SELECT CAST(v AS INT) AS v, op, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(k) AS BIGINT) AS key_sum, CAST(sum(price_c) AS BIGINT) AS price_sum " +
        "FROM ch GROUP BY 1, 2 ORDER BY v, op"),
    "q_snapshot_sql" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d, " +
        "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_c FROM orders), " +
        "fin AS (SELECT k, d, CASE WHEN k % 7 = 0 THEN price_c * 2 " +
        "WHEN year(d) = 1997 THEN price_c + 500 ELSE price_c END AS price_c " +
        "FROM o WHERE k % 7 = 0 OR year(d) <> 1995) " +
        "SELECT CAST(year(d) AS INT) AS y, CAST(month(d) AS INT) AS m, " +
        "CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(price_c) AS BIGINT) AS sum_price_c " +
        "FROM fin WHERE d BETWEEN DATE '1996-01-01' AND DATE '1996-12-31' " +
        "GROUP BY 1, 2 ORDER BY y, m"),
    "q_snapshot_ddl" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS amount_c FROM orders), " +
        "kept AS (SELECT k, amount_c FROM o WHERE amount_c < 20000000), " +
        "added AS (SELECT k + 10000000 AS k, CAST(1 AS BIGINT) AS amount_c FROM o WHERE k % 1000 = 0), " +
        "fin AS (SELECT * FROM kept UNION ALL SELECT * FROM added) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(amount_c) AS BIGINT) AS sum_amount_c, " +
        "CAST(sum(k % 1000000) AS BIGINT) AS key_sum FROM fin"),
    "q_snapshot_eq" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_c, " +
        "CAST(sum(o_orderkey) AS BIGINT) AS key_sum " +
        "FROM orders WHERE o_orderkey // 1000 = 2")
  )
}

/** The 4-commit DML cycle shared by `q_snapshot_dml` and `q_snapshot_cdc`
  * (create all orders → DELETE the 1995 range → UPDATE 1997 prices +500c →
  * MERGE k%7=0 rows at doubled price), built ONCE per (session, fixture
  * dir): the cycle is the shared input both queries consume — exactly the
  * production shape where one table serves many readers — so the second
  * query pays only its own read, not a rebuild. Bench labels the sharing
  * (`memo_hit`) and clears this memo before every memo-honest re-measure
  * so rerun numbers are true end-to-end rebuilds. */
object SnapshotCycle {
  import graft.sinks.{SnapshotSql, SnapshotTable}
  import graft.sinks.SnapshotTable.Bound

  private val memo = new FixtureMemo[(SparkSession, String), String](_ => ())

  /** Forget built cycles: the next query rebuilds from the fixture (the
    * on-disk root is deleted and recreated by the build). */
  def clearMemo(): Unit = memo.clear()

  private[ops] def ordersOf(s: SparkSession, dir: String): DataFrame =
    Fixtures
      .table(s, dir, "orders")
      .select(
        col("o_orderkey").as("k"),
        to_date(col("o_orderdate")).as("d"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("price_c"))

  // date-clustered create (no extra commit, same versions/rows): the
  // DML predicates are date ranges, so the delete drops interior
  // files with zero I/O and the update rewrites only 1997's files —
  // the cycle exercises the copy-on-write economics instead of the
  // unclustered full-rewrite worst case (which SCALING.md measures
  // separately)
  private def createClustered(s: SparkSession, root: String, o: DataFrame): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
    val par = s.sparkContext.defaultParallelism
    SnapshotTable.create(
      s,
      root,
      o.repartitionByRange(par, col("d")).sortWithinPartitions("d")) // v1
  }

  def root(s: SparkSession, dir: String): String =
    memo((s, dir)) {
      val root = "/tmp/graft-snapcycle/" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      val o = ordersOf(s, dir)
      createClustered(s, root, o)
      SnapshotTable.deleteWhere(s, root, Seq(Bound("d", Some("1995-01-01"), Some("1995-12-31")))) // v2
      SnapshotTable.updateWhere(
        s,
        root,
        Seq(Bound("d", Some("1997-01-01"), Some("1997-12-31"))),
        Map("price_c" -> (col("price_c") + lit(500L)))) // v3
      SnapshotTable.mergeUpsert(
        s,
        root,
        o.filter(col("k") % 7 === 0).withColumn("price_c", col("price_c") * 2),
        Seq("k")) // v4
      root
    }

  /** The 7-commit COW-rebase workflow behind `q_snapshot_rebase_cow`,
    * memoized under its own key: create main (even keys) → fork `cow` →
    * captured COW update/delete/merge on the branch → divergent append on
    * main → rebase (replay-by-captured-delta) → fast-forward. The memo
    * makes the bench row's warm reruns measure the final aggregate read,
    * with the one-time fixture labeled `memo_paid` in the sweep. */
  def rebaseCowRoot(s: SparkSession, dir: String): String =
    memo((s, dir + "#rbc")) {
      val root = "/tmp/graft-snaprbc/" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      val o = ordersOf(s, dir)
      SnapshotTable.create(s, root, o.filter(col("k") % 2 === 0)) // main v1: even keys
      val cow = SnapshotTable.createBranch(s, root, "cow") // forks at v1
      SnapshotTable.updateWhere(
        s, cow, Seq(Bound("d", Some("1996-01-01"), Some("1996-12-31"))),
        Map("price_c" -> (col("price_c") + 77))) // branch v2 (COW update, captured)
      SnapshotTable.deleteWhere(
        s, cow, Seq(Bound("d", Some("1995-01-01"), Some("1995-12-31")))) // branch v3 (COW delete)
      SnapshotTable.mergeUpsert(
        s, cow,
        o.filter(col("k") % 20 === 0).withColumn("price_c", col("price_c") * 3),
        Seq("k")) // branch v4 (COW merge: k%20 replaced at 3×, deleted 1995 k%20 re-insert)
      // main diverges with an append that touches NO replayed pre-image
      SnapshotTable.append(s, root, o.filter(col("k") % 2 === 1)) // main v2
      SnapshotTable.rebase(s, root, "cow") // replay v2..v4 via captured deltas
      SnapshotTable.fastForward(s, root, "cow") // publish: main → v5
      root
    }

  /** The catalog streaming round trip behind `q_stream_catalog_sink`,
    * memoized under its own key: a catalog source table (even orders
    * keys) is drained through `readStream.table` → transform →
    * `writeStream.toTable` (AvailableNow), the odd keys append, and a
    * second drain on the SAME checkpoint ships exactly that increment.
    * Returns the DESTINATION table root. */
  def streamSinkRoot(s: SparkSession, dir: String): String =
    memo((s, dir + "#ssink")) {
      import org.apache.spark.sql.streaming.Trigger
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val wh = "/tmp/graft-streamsink/" + safe
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      val cat = "gssink_" + safe // per-dir name: catalog instances cache their warehouse
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sinks.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val o = ordersOf(s, dir)
      SnapshotTable.create(s, wh + "/ns/src", o.filter(col("k") % 2 === 0)) // v1: evens
      val ckpt = wh + "/ckpt"
      def drain(): Unit = {
        val q = s.readStream
          .table(s"$cat.ns.src")
          .filter(year(col("d")) === 1996)
          .withColumn("price_c", col("price_c") + 5)
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .toTable(s"$cat.ns.dst")
        q.awaitTermination()
      }
      drain() // snapshot epoch(s)
      SnapshotTable.append(s, wh + "/ns/src", o.filter(col("k") % 2 === 1)) // v2: odds
      drain() // incremental epoch: exactly the appended commit
      wh + "/ns/dst"
    }

  /** The SAME 4-commit algebra driven entirely through SQL TEXT (the
    * [[SnapshotSql]] router): proves DELETE FROM / UPDATE / MERGE INTO
    * statements are hash-identical to the programmatic API against the
    * same oracle. Separate root + memo key — the SQL path must pay its
    * own full cycle, not read the programmatic one's result. */
  def sqlRoot(s: SparkSession, dir: String): String =
    memo((s, dir + "#sql")) {
      val root = "/tmp/graft-snapcyclesql/" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      val o = ordersOf(s, dir)
      createClustered(s, root, o)
      val table = "snap_dml_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      SnapshotSql.register(s, table, root)
      SnapshotSql.execute(
        s,
        s"DELETE FROM $table WHERE d BETWEEN DATE'1995-01-01' AND DATE'1995-12-31'") // v2
      SnapshotSql.execute(
        s,
        s"UPDATE $table SET price_c = price_c + 500 " +
          "WHERE d BETWEEN DATE'1997-01-01' AND DATE'1997-12-31'") // v3
      val srcView = table + "_src"
      o.filter(col("k") % 7 === 0)
        .withColumn("price_c", col("price_c") * 2)
        .createOrReplaceTempView(srcView)
      SnapshotSql.execute(
        s,
        s"MERGE INTO $table AS t USING $srcView AS s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *") // v4
      root
    }

  /** The SAME 4-commit algebra a third way: through CATALOG identifiers
    * (`<catalog>.c.orders`) — Spark's own analyzer resolves the target via
    * [[graft.sinks.GraftCatalog]] and [[graft.sinks.GraftDmlStrategy]]
    * lowers the planned DELETE/UPDATE/MERGE commands onto the same
    * transactional executors. Proves a user needs NO registration calls:
    * plain `spark.sql` DML against `graft.ns.t` is hash-identical to the
    * programmatic API. Separate root + memo key — pays its own cycle. */
  def catalogRoot(s: SparkSession, dir: String): String =
    memo((s, dir + "#cat")) {
      val wh = "/tmp/graft-snapcyclecat/" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      val root = wh + "/c/orders"
      val o = ordersOf(s, dir)
      createClustered(s, root, o)
      val cat = "gdmlcat_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sinks.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      org.apache.spark.sql.GraftSqlBridge.addStrategy(s, graft.sinks.GraftDmlStrategy)
      s.sql(
        s"DELETE FROM $cat.c.orders " +
          "WHERE d BETWEEN DATE'1995-01-01' AND DATE'1995-12-31'") // v2
      s.sql(
        s"UPDATE $cat.c.orders SET price_c = price_c + 500 " +
          "WHERE d BETWEEN DATE'1997-01-01' AND DATE'1997-12-31'") // v3
      val srcView = cat + "_src"
      o.filter(col("k") % 7 === 0)
        .withColumn("price_c", col("price_c") * 2)
        .createOrReplaceTempView(srcView)
      s.sql(
        s"MERGE INTO $cat.c.orders AS t USING $srcView AS s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *") // v4
      root
    }
}
