package graft

import java.nio.file.Files

import graft.sinks.{SnapshotSql, SnapshotTable}
import org.apache.spark.sql.DataFrame

/** The SQL-text DML router: statement → the same transactional operators
  * the programmatic API runs, with identical results and identical
  * copy-on-write economics for exactly-translatable conditions. */
class SnapshotSqlSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String = Files.createTempDirectory("graft-snapsql").toString

  private def fixture(n: Int): DataFrame =
    spark.range(n.toLong).selectExpr(
      "id AS k",
      "date_add(DATE'1995-01-01', CAST(id % 1000 AS INT)) AS d",
      "(id * 7) % 1000 AS price_c")

  private def sorted(df: DataFrame): Seq[Row] = df.orderBy("k").collect().toSeq
  private type Row = org.apache.spark.sql.Row

  test("SQL DELETE/UPDATE/MERGE cycle equals the programmatic cycle row-for-row") {
    val sqlRoot = freshRoot()
    val apiRoot = freshRoot()
    val src = fixture(2000)
    SnapshotTable.create(spark, sqlRoot, src)
    SnapshotTable.create(spark, apiRoot, src)

    // programmatic cycle
    SnapshotTable.deleteWhere(
      spark, apiRoot,
      Seq(SnapshotTable.Bound("d", Some("1995-06-01"), Some("1995-12-31"))))
    SnapshotTable.updateWhere(
      spark, apiRoot,
      Seq(SnapshotTable.Bound("k", Some(100L), Some(400L))),
      Map("price_c" -> (org.apache.spark.sql.functions.col("price_c") + 500)))
    val upsert = src.filter("k % 7 = 0").withColumn(
      "price_c", org.apache.spark.sql.functions.col("price_c") * 2)
    SnapshotTable.mergeUpsert(spark, apiRoot, upsert, Seq("k"))

    // SQL cycle — same algebra through text
    SnapshotSql.register(spark, "snap", sqlRoot)
    upsert.createOrReplaceTempView("upsert_src")
    SnapshotSql.execute(spark,
      "DELETE FROM snap WHERE d BETWEEN DATE'1995-06-01' AND DATE'1995-12-31'")
    SnapshotSql.execute(spark,
      "UPDATE snap SET price_c = price_c + 500 WHERE k >= 100 AND k <= 400")
    SnapshotSql.execute(spark,
      "MERGE INTO snap AS t USING upsert_src AS s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")

    assert(sorted(SnapshotTable.read(spark, sqlRoot)) == sorted(SnapshotTable.read(spark, apiRoot)))
    // the exact translation rides the SAME fast paths: both logs carry the
    // same action sequence and the same per-commit net row deltas
    def log(r: String) = SnapshotTable.history(spark, r).map(c => (c.action, c.addedRows))
    assert(log(sqlRoot) == log(apiRoot), s"${log(sqlRoot)} vs ${log(apiRoot)}")
  }

  test("strict comparisons and non-range conditions execute exactly (widened pruning, true row filter)") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(1000))
    SnapshotSql.register(spark, "snap2", root)
    // strict > : not expressible as an inclusive Bound — the k=500 row must SURVIVE
    SnapshotSql.execute(spark, "DELETE FROM snap2 WHERE k > 500")
    assert(SnapshotTable.read(spark, root).count() == 501)
    assert(SnapshotTable.read(spark, root).filter("k = 500").count() == 1)
    // non-range condition (modulus): no pruning possible, still exact
    SnapshotSql.execute(spark, "DELETE FROM snap2 WHERE k % 10 = 3")
    assert(SnapshotTable.read(spark, root).filter("k % 10 = 3").count() == 0)
    assert(SnapshotTable.read(spark, root).count() == 501 - 50)
    // UPDATE through a strict range: only rows with k < 10 change
    SnapshotSql.execute(spark, "UPDATE snap2 SET price_c = 0 WHERE k < 10")
    assert(SnapshotTable.read(spark, root).filter("price_c = 0 AND k < 10").count() == 9)
    assert(SnapshotTable.read(spark, root).filter("k >= 10 AND price_c = 0").count() ==
      SnapshotTable.readVersion(spark, root, 3).filter("k >= 10 AND price_c = 0").count())
  }

  test("pruning still engages for SQL DML on a clustered table") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(4000))
    SnapshotTable.compact(spark, root, "d", nFiles = 8)
    SnapshotSql.register(spark, "snap3", root)
    val before = SnapshotTable.history(spark, root).last.files.map(_.path).toSet
    SnapshotSql.execute(spark,
      "DELETE FROM snap3 WHERE d BETWEEN DATE'1995-02-01' AND DATE'1995-03-31'")
    val after = SnapshotTable.history(spark, root).last
    // most clustered files carry forward untouched (same paths)
    val carried = after.files.map(_.path).toSet.intersect(before)
    assert(carried.size >= 5, s"only boundary files should rewrite: carried=${carried.size} of 8")
  }

  test("morWrites registration routes SQL DML onto merge-on-read with identical results") {
    val morRoot = freshRoot()
    val cowRoot = freshRoot()
    val src = fixture(2000)
    SnapshotTable.create(spark, morRoot,
      src.repartitionByRange(8, org.apache.spark.sql.functions.col("k")).sortWithinPartitions("k"))
    SnapshotTable.create(spark, cowRoot,
      src.repartitionByRange(8, org.apache.spark.sql.functions.col("k")).sortWithinPartitions("k"))
    SnapshotSql.register(spark, "snap_mor", morRoot, morWrites = true)
    SnapshotSql.register(spark, "snap_cow2", cowRoot)
    fixture(2000).filter("k % 97 = 0").selectExpr("k", "d", "price_c + 9 AS price_c")
      .createOrReplaceTempView("mor_src")
    val filesBefore = SnapshotTable.history(spark, morRoot).last.files.map(_.path).toSet
    for (t <- Seq("snap_mor", "snap_cow2")) {
      SnapshotSql.execute(spark,
        s"MERGE INTO $t AS x USING mor_src AS s ON x.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      SnapshotSql.execute(spark, s"DELETE FROM $t WHERE k BETWEEN 500 AND 700")
    }
    assert(sorted(SnapshotTable.read(spark, morRoot)) == sorted(SnapshotTable.read(spark, cowRoot)))
    // the mor table's merge rewrote NOTHING and its commits are mor-typed
    val h = SnapshotTable.history(spark, morRoot)
    assert(h.map(_.action).takeRight(2) == Seq("mor-merge", "mor-delete"), h.map(_.action))
    val afterMerge = h.find(_.action == "mor-merge").get
    assert(filesBefore.subsetOf(afterMerge.files.map(_.path).toSet),
      "morWrites MERGE must not rewrite target files")
    // non-range delete on a morWrites table falls back to COW, still exact
    SnapshotSql.execute(spark, "DELETE FROM snap_mor WHERE k % 10 = 1")
    SnapshotSql.execute(spark, "DELETE FROM snap_cow2 WHERE k % 10 = 1")
    assert(sorted(SnapshotTable.read(spark, morRoot)) == sorted(SnapshotTable.read(spark, cowRoot)))
  }

  test("the canonical upsert of a narrow source lands the same rows from the API, SQL text and merge-on-read") {
    val Seq(apiRoot, sqlRoot, morRoot) = Seq.fill(3)(freshRoot())
    for (r <- Seq(apiRoot, sqlRoot, morRoot)) SnapshotTable.create(spark, r, fixture(500))
    // no `d`: the 10 matched keys and the 2 new ones (507, 557) read it as null
    val narrow = fixture(600).filter("k % 50 = 7").selectExpr("k", "price_c + 1 AS price_c")
    narrow.createOrReplaceTempView("narrow_src")
    SnapshotTable.mergeUpsert(spark, apiRoot, narrow, Seq("k"))
    SnapshotSql.register(spark, "narrow_sql", sqlRoot)
    SnapshotSql.execute(spark,
      "MERGE INTO narrow_sql AS t USING narrow_src AS s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    SnapshotTable.mergeUpsertMor(spark, morRoot, narrow, Seq("k"))
    val got = SnapshotTable.read(spark, apiRoot)
    assert(got.count() == 502)
    assert(got.filter("d IS NULL").select("k").as[Long].collect().sorted.toSeq == (7L until 600L by 50))
    assert(got.filter("k = 57").select("price_c").as[Long].head() == (57 * 7) % 1000 + 1)
    val want = sorted(got)
    assert(sorted(SnapshotTable.read(spark, sqlRoot)) == want)
    assert(sorted(SnapshotTable.read(spark, morRoot)) == want)
  }

  test("MERGE WHEN MATCHED THEN DELETE: COW rewrite and MOR keys-mask give identical results") {
    val cowRoot = freshRoot()
    val morRoot = freshRoot()
    val src = fixture(2000)
    for (r <- Seq(cowRoot, morRoot))
      SnapshotTable.create(spark, r,
        src.repartitionByRange(8, org.apache.spark.sql.functions.col("k")).sortWithinPartitions("k"))
    SnapshotSql.register(spark, "mdel_cow", cowRoot)
    SnapshotSql.register(spark, "mdel_mor", morRoot, morWrites = true)
    // scattered keys: the COW twin must discover + rewrite only touched
    // files; the MOR twin must rewrite NOTHING (a keys mask)
    fixture(2000).filter("k % 131 = 0").createOrReplaceTempView("mdel_src")
    val morFilesBefore = SnapshotTable.history(spark, morRoot).last.files.map(_.path).toSet
    for (t <- Seq("mdel_cow", "mdel_mor"))
      SnapshotSql.execute(spark,
        s"MERGE INTO $t AS t USING mdel_src AS s ON t.k = s.k WHEN MATCHED THEN DELETE")
    assert(sorted(SnapshotTable.read(spark, cowRoot)) == sorted(SnapshotTable.read(spark, morRoot)))
    assert(SnapshotTable.read(spark, cowRoot).filter("k % 131 = 0").count() == 0)
    assert(SnapshotTable.read(spark, cowRoot).count() == 2000 - src.filter("k % 131 = 0").count())
    val morLast = SnapshotTable.history(spark, morRoot).last
    assert(morLast.action == "mor-delete", morLast.action)
    assert(morLast.files.map(_.path).toSet == morFilesBefore,
      "MOR matched-delete must not touch any target file")
    assert(morLast.masks.exists(_.kind == "keys"), "matched-delete lands as a keys mask")
    // compaction reconciles the mask; results unchanged
    SnapshotTable.compact(spark, morRoot, "k", nFiles = 4)
    assert(sorted(SnapshotTable.read(spark, cowRoot)) == sorted(SnapshotTable.read(spark, morRoot)))
    assert(SnapshotTable.history(spark, morRoot).last.masks.isEmpty)
  }

  test("conditional MERGE clauses: first-match-wins updates/deletes, conditional inserts, both-side refs") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(1000))
    SnapshotSql.register(spark, "mcond", root)
    // source: half the keys exist (0..499 via k%2=0 slice over 0..998),
    // half are new (1000..1499); price doubles
    spark.range(750).selectExpr(
      "CASE WHEN id < 500 THEN id * 2 ELSE id + 500 END AS k", // 0,2,..,998 then 1000..1249
      "DATE'2000-01-01' AS d",
      "id AS price_c")
      .createOrReplaceTempView("mcond_src")
    SnapshotSql.execute(spark,
      "MERGE INTO mcond AS t USING mcond_src AS s ON t.k = s.k " +
        "WHEN MATCHED AND s.price_c > t.price_c THEN UPDATE SET price_c = s.price_c + t.price_c " +
        "WHEN MATCHED AND t.k < 100 THEN DELETE " +
        "WHEN NOT MATCHED AND s.k >= 1100 THEN INSERT (k, d, price_c) VALUES (s.k, s.d, -1)")
    val got = SnapshotTable.read(spark, root)
    // oracle computed independently over the same algebra
    val target = fixture(1000).withColumnRenamed("price_c", "tp")
    val source = spark.sql("SELECT k, d AS sd, price_c AS sp FROM mcond_src")
    val joined = target.join(source, Seq("k"), "left_outer")
    val matchedUpd = joined.filter("sp IS NOT NULL AND sp > tp").selectExpr("k", "d", "sp + tp AS price_c")
    val matchedDel = joined.filter("sp IS NOT NULL AND NOT (sp > tp) AND k < 100")
    val matchedKeep = joined.filter("sp IS NOT NULL AND NOT (sp > tp) AND NOT (k < 100)")
      .selectExpr("k", "d", "tp AS price_c")
    val unmatchedTgt = joined.filter("sp IS NULL").selectExpr("k", "d", "tp AS price_c")
    val inserts = source.join(target, Seq("k"), "left_anti").filter("k >= 1100")
      .selectExpr("k", "sd AS d", "CAST(-1 AS LONG) AS price_c")
    val expect = matchedUpd.unionByName(matchedKeep).unionByName(unmatchedTgt).unionByName(inserts)
    assert(sorted(got) == sorted(expect),
      s"counts: got=${got.count()} expect=${expect.count()} del=${matchedDel.count()}")
    // only files containing matched keys were rewritten (scale economics)
    assert(got.filter("k >= 1000 AND k < 1100").count() == 0, "conditional insert filtered")
    assert(got.filter("price_c = -1").count() == 150, "inserted 1100..1249")
  }

  test("bare MERGE clause refs auto-qualify by context; genuine ambiguity refuses loudly") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(100)) // price_c = 7k for k < 100
    SnapshotSql.register(spark, "mbare", root)
    // source carries k + a NEW column only, so every bare name resolves to
    // exactly one side: price_c/d → target, bump → source
    spark.range(60).selectExpr("id * 2 AS k", "CAST(100 AS BIGINT) AS bump")
      .createOrReplaceTempView("mbare_src")
    SnapshotSql.execute(spark,
      "MERGE INTO mbare AS t USING mbare_src AS s ON t.k = s.k " +
        "WHEN MATCHED AND price_c < 350 THEN UPDATE SET price_c = price_c + bump " +
        "WHEN NOT MATCHED AND bump > 0 THEN INSERT (k, d, price_c) VALUES (k, DATE'2001-01-01', bump)")
    val got = SnapshotTable.read(spark, root)
    // matched even keys under 50 bump by 100; new even keys 100..118 insert;
    // the source-only column evolves in as all-null
    val expect = fixture(100)
      .selectExpr(
        "k", "d",
        "CASE WHEN k % 2 = 0 AND price_c < 350 THEN price_c + 100 ELSE price_c END AS price_c",
        "CAST(NULL AS BIGINT) AS bump")
      .unionByName(spark.range(10).selectExpr(
        "100 + id * 2 AS k", "DATE'2001-01-01' AS d",
        "CAST(100 AS BIGINT) AS price_c", "CAST(NULL AS BIGINT) AS bump"))
    assert(sorted(got) == sorted(expect))

    // a source that ALSO carries price_c makes the bare ref genuinely
    // ambiguous — refused loudly, never guessed
    spark.range(5).selectExpr("id AS k", "id AS price_c").createOrReplaceTempView("mbare_amb")
    val e = intercept[Exception](SnapshotSql.execute(spark,
      "MERGE INTO mbare AS t USING mbare_amb AS s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET price_c = price_c + 1"))
    assert(e.getMessage.contains("ambiguous"), e.getMessage)
    // ...while the qualified form still works
    SnapshotSql.execute(spark,
      "MERGE INTO mbare AS t USING mbare_amb AS s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET price_c = t.price_c + 1")
    assert(SnapshotTable.read(spark, root).filter("k < 5").selectExpr("sum(price_c)").head.getLong(0) ==
      (0 until 5).map(k => if (k % 2 == 0) 7 * k + 100 + 1 else 7 * k + 1).sum)

    // LAMBDA variables shadow columns: the auto-qualifier must leave the
    // lambda body's `k` for ResolveLambdaVariables — qualifying it to t.k
    // would make this always-false condition true for k > 2 and delete rows
    val before = SnapshotTable.read(spark, root).count()
    SnapshotSql.execute(spark,
      "MERGE INTO mbare AS t USING mbare_amb AS s ON t.k = s.k " +
        "WHEN MATCHED AND exists(array(CAST(0 AS BIGINT)), k -> k > 2) THEN DELETE")
    assert(SnapshotTable.read(spark, root).count() == before,
      "the lambda's k is the array element (0), never the column — nothing matches")

    // a BY SOURCE clause referencing a source-only column refuses (there
    // is no source row on those rows — a silent null otherwise); `bump`
    // no longer qualifies as source-only here because merge 1 evolved it
    // INTO the target, so use a genuinely source-only name
    spark.range(5).selectExpr("id AS k", "CAST(1 AS BIGINT) AS fresh")
      .createOrReplaceTempView("mbare_fresh")
    val e2 = intercept[Exception](SnapshotSql.execute(spark,
      "MERGE INTO mbare AS t USING mbare_fresh AS s ON t.k = s.k " +
        "WHEN NOT MATCHED BY SOURCE AND fresh > 0 THEN DELETE"))
    assert(e2.getMessage.contains("source column 'fresh'"), e2.getMessage)
  }

  test("ALTER TABLE DDL routes onto the metadata-only operators; SELECT time-travels via query()") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(100)) // v1
    SnapshotSql.register(spark, "snap_ddl2", root)
    // ADD CONSTRAINT validates history then enforces on future commits
    SnapshotSql.execute(spark, "ALTER TABLE snap_ddl2 ADD CONSTRAINT price_pos CHECK (price_c >= 0)") // v2
    assert(SnapshotTable.history(spark, root).last.constraints.contains("price_pos"))
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.append(spark, root,
        spark.range(1).selectExpr("CAST(9999 AS LONG) AS k", "DATE'2000-01-01' AS d", "CAST(-5 AS LONG) AS price_c"))
    }
    // RENAME COLUMN is metadata-only; the table reads under the new name
    SnapshotSql.execute(spark, "ALTER TABLE snap_ddl2 DROP CONSTRAINT price_pos") // v3
    SnapshotSql.execute(spark, "ALTER TABLE snap_ddl2 RENAME COLUMN price_c TO amount_c") // v4
    assert(SnapshotTable.read(spark, root).columns.toSeq == Seq("k", "d", "amount_c"))
    // DROP COLUMN (+ IF EXISTS tolerance)
    SnapshotSql.execute(spark, "ALTER TABLE snap_ddl2 DROP COLUMN IF EXISTS nope, d") // v5 (only d)
    assert(SnapshotTable.read(spark, root).columns.toSeq == Seq("k", "amount_c"))
    // time travel through query(): no temp view anywhere
    assert(SnapshotSql.query(spark, "SELECT count(*) AS n FROM snap_ddl2").collect()(0).getLong(0) == 100)
    val v1 = SnapshotSql.query(spark, "SELECT * FROM snap_ddl2 VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("k", "d", "price_c"), "v1 reads its own recorded schema")
    assert(v1.count() == 100)
    // TIMESTAMP AS OF resolves through manifest publish times
    val ts1 = SnapshotTable.history(spark, root).head.ts
    val byTs = SnapshotSql.query(
      spark,
      s"SELECT count(*) AS n FROM snap_ddl2 TIMESTAMP AS OF '${new java.sql.Timestamp(ts1)}'")
    assert(byTs.collect()(0).getLong(0) == 100)
    // joins between a registered table and an ordinary view resolve together
    fixture(10).selectExpr("k", "price_c AS p2").createOrReplaceTempView("sql_side")
    val joined = SnapshotSql.query(
      spark,
      "SELECT count(*) AS n FROM snap_ddl2 t JOIN sql_side s ON t.k = s.k")
    assert(joined.collect()(0).getLong(0) == 10)
    // ADD COLUMN is metadata-only: existing rows read it as null, an
    // append can then fill it; re-adding a dropped name needs its type
    SnapshotSql.execute(spark, "ALTER TABLE snap_ddl2 ADD COLUMN note STRING") // v6
    assert(SnapshotTable.read(spark, root).columns.toSeq == Seq("k", "amount_c", "note"))
    assert(SnapshotTable.read(spark, root).filter("note IS NULL").count() == 100)
    SnapshotTable.append(spark, root,
      spark.range(1).selectExpr("CAST(77777 AS LONG) AS k", "CAST(1 AS LONG) AS amount_c", "'x' AS note"))
    assert(SnapshotTable.read(spark, root).filter("note = 'x'").count() == 1)
    val eRev = intercept[IllegalArgumentException] {
      SnapshotSql.execute(spark, "ALTER TABLE snap_ddl2 ADD COLUMN d INT") // d was DATE
    }
    assert(eRev.getMessage.contains("revive"), eRev.getMessage)
  }

  test("query()/DDL resolution precedence and refusal edges match spark.sql semantics") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(50))
    SnapshotSql.register(spark, "snap_prec", root)
    // a CTE binding the registered name WINS (spark.sql precedence, not inverted)
    val cte = SnapshotSql.query(
      spark, "WITH snap_prec AS (SELECT 1 AS one) SELECT count(*) AS n FROM snap_prec")
    assert(cte.collect()(0).getLong(0) == 1, "CTE must shadow the registration")
    // a temp view binding the registered name WINS
    fixture(3).createOrReplaceTempView("snap_prec2")
    SnapshotSql.register(spark, "snap_prec2", root)
    assert(
      SnapshotSql.query(spark, "SELECT count(*) AS n FROM snap_prec2").collect()(0).getLong(0) == 3,
      "temp view must shadow the registration")
    // a QUALIFIED name is never hijacked by a registration's last part
    val e0 = intercept[Exception] {
      SnapshotSql.query(spark, "SELECT * FROM no_such_db.snap_prec").collect()
    }
    assert(e0.getMessage.toLowerCase.contains("cannot be found") ||
      e0.getMessage.toLowerCase.contains("table_or_view_not_found"), e0.getMessage)
    // non-literal TIMESTAMP AS OF refused loudly, never guessed
    val e1 = intercept[RuntimeException] {
      SnapshotSql.query(spark, "SELECT * FROM snap_prec TIMESTAMP AS OF current_timestamp()")
    }
    assert(e1.getMessage.contains("literal timestamp"), e1.getMessage)
    // unnamed ADD CHECK refused (a generated name would be un-droppable)
    val e2 = intercept[IllegalArgumentException] {
      SnapshotSql.execute(spark, "ALTER TABLE snap_prec ADD CHECK (price_c >= 0)")
    }
    assert(e2.getMessage.contains("name the constraint"), e2.getMessage)
    // case-insensitive DDL resolution (spark.sql.caseSensitive=false default)
    SnapshotSql.execute(spark, "ALTER TABLE snap_prec ADD CONSTRAINT cc1 CHECK (price_c >= 0)")
    SnapshotSql.execute(spark, "ALTER TABLE snap_prec DROP CONSTRAINT CC1") // resolves to cc1
    assert(SnapshotTable.history(spark, root).last.constraints.isEmpty)
    val vNoop = SnapshotSql.execute(spark, "ALTER TABLE snap_prec DROP CONSTRAINT IF EXISTS nope")
    assert(vNoop == SnapshotTable.latestVersion(spark, root).get, "IF EXISTS no-op returns the version")
    SnapshotSql.execute(spark, "ALTER TABLE snap_prec DROP COLUMN PRICE_C") // resolves to price_c
    assert(SnapshotTable.read(spark, root).columns.toSeq == Seq("k", "d"))
    val vNoop2 = SnapshotSql.execute(spark, "ALTER TABLE snap_prec DROP COLUMN IF EXISTS gone")
    assert(vNoop2 == SnapshotTable.latestVersion(spark, root).get)
  }

  test("maintenance SQL (VACUUM/OPTIMIZE), table_changes TVF, registered MERGE sources") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(1000)) // v1
    SnapshotSql.register(spark, "snap_mx", root)
    // OPTIMIZE = z-order compaction; INTO bounds the file count
    val vOpt = SnapshotSql.execute(spark, "OPTIMIZE snap_mx ZORDER BY (k, price_c) INTO 4 FILES")
    assert(SnapshotTable.history(spark, root).last.action == "compact")
    assert(SnapshotTable.read(spark, root).inputFiles.length == 4)
    assert(SnapshotTable.read(spark, root).count() == 1000, "OPTIMIZE is data-identical")
    // partial compaction: OPTIMIZE ... WHERE re-clusters only the range
    val filesBeforePart = SnapshotTable.history(spark, root).last.files.map(_.path).toSet
    SnapshotSql.execute(spark,
      "OPTIMIZE snap_mx WHERE k BETWEEN 0 AND 249 CLUSTER BY (k) INTO 1 FILES")
    val partial = SnapshotTable.history(spark, root).last
    assert(partial.action == "compact")
    assert(partial.files.map(_.path).toSet.intersect(filesBeforePart).nonEmpty,
      "non-intersecting files carry through OPTIMIZE WHERE")
    assert(SnapshotTable.read(spark, root).count() == 1000)
    // VACUUM with version-based retention; hour-based refused loudly
    SnapshotTable.append(spark, root, fixture(10)) // v4
    SnapshotSql.execute(spark, "VACUUM snap_mx RETAIN 1 VERSIONS")
    assert(SnapshotTable.versions(spark, root) == Seq(4))
    val eH = intercept[RuntimeException] {
      SnapshotSql.execute(spark, "VACUUM snap_mx RETAIN 7 HOURS")
    }
    assert(eH.getMessage.contains("version-based"), eH.getMessage)
    // bare OPTIMIZE is the small-file bin-packer (round 15) — on this
    // tiny table it packs everything; malformed shapes still refuse
    val afterOpt = SnapshotSql.execute(spark, "OPTIMIZE snap_mx")
    assert(SnapshotTable.readManifest(spark, root, afterOpt).files.size == 1)
    val eO = intercept[RuntimeException] { SnapshotSql.execute(spark, "OPTIMIZE snap_mx BIN PACK") }
    assert(eO.getMessage.contains("ZORDER"), eO.getMessage)
    // table_changes TVF over a registered table
    val tcRoot = freshRoot()
    SnapshotTable.create(spark, tcRoot, fixture(100)) // v1
    SnapshotTable.append(spark, tcRoot, fixture(7)) // v2
    SnapshotSql.register(spark, "snap_tc", tcRoot)
    val tc = SnapshotSql.query(
      spark,
      "SELECT _change_type AS op, count(*) AS n FROM table_changes('snap_tc', 1, 2) GROUP BY 1")
    assert(tc.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("insert", 7L)))
    // a registered snapshot table as the MERGE source — no temp view
    val tgtRoot = freshRoot()
    SnapshotTable.create(spark, tgtRoot, fixture(100))
    SnapshotSql.register(spark, "snap_tgt", tgtRoot)
    val srcRoot = freshRoot()
    SnapshotTable.create(spark, srcRoot,
      fixture(120).filter("k >= 90").selectExpr("k", "d", "price_c * 10 AS price_c"))
    SnapshotSql.register(spark, "snap_src", srcRoot)
    SnapshotSql.execute(spark,
      "MERGE INTO snap_tgt AS t USING snap_src AS s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val got = SnapshotTable.read(spark, tgtRoot)
    assert(got.count() == 120)
    assert(got.filter("k >= 90 AND price_c % 10 != 0").count() == 0, "matched rows replaced from the snapshot source")
  }

  test("table lifecycle SQL: CREATE / CTAS / INSERT / DROP route onto the transactional operators") {
    val root = freshRoot() + "/t"
    val ctasRoot = freshRoot() + "/c"
    // CREATE TABLE with a schema: an empty v1 whose schema is recorded
    SnapshotSql.execute(
      spark,
      s"CREATE TABLE lifec (k BIGINT, v STRING) USING `snapshot-table` LOCATION '$root'")
    assert(SnapshotTable.latestVersion(spark, root).contains(1))
    assert(SnapshotSql.query(spark, "SELECT * FROM lifec").count() == 0)
    assert(SnapshotSql.query(spark, "SELECT * FROM lifec").columns.toSeq == Seq("k", "v"))
    // IF NOT EXISTS over an existing table: no new commit, name (re-)bound
    SnapshotSql.execute(
      spark,
      s"CREATE TABLE IF NOT EXISTS lifec (k BIGINT, v STRING) USING `snapshot-table` LOCATION '$root'")
    assert(SnapshotTable.latestVersion(spark, root).contains(1))
    intercept[IllegalArgumentException](SnapshotSql.execute(
      spark,
      s"CREATE TABLE lifec (k BIGINT, v STRING) USING `snapshot-table` LOCATION '$root'"))
    // INSERT INTO is a real append commit; positional column mapping
    SnapshotSql.execute(spark, "INSERT INTO lifec SELECT id, concat('r', id) FROM range(10)")
    assert(SnapshotTable.latestVersion(spark, root).contains(2))
    assert(SnapshotSql.query(spark, "SELECT * FROM lifec WHERE k < 3").count() == 3)
    // INSERT OVERWRITE replaces; history keeps the appended version
    SnapshotSql.execute(spark, "INSERT OVERWRITE lifec SELECT id, concat('w', id) FROM range(4)")
    assert(SnapshotSql.query(spark, "SELECT * FROM lifec").count() == 4)
    assert(SnapshotSql.query(spark, "SELECT * FROM lifec VERSION AS OF 2").count() == 10)
    // DESCRIBE HISTORY surfaces the commit log newest-first, metadata-only
    val h = SnapshotSql.query(spark, "DESCRIBE HISTORY lifec")
      .select("version", "action").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(h.head._1 == 3 && h.last._1 == 1, h.toSeq.toString)
    assert(h.map(_._2).toSeq.sorted.distinct.nonEmpty && h.exists(_._2 == "overwrite"), h.toSeq.toString)
    intercept[IllegalArgumentException](SnapshotSql.query(spark, "DESCRIBE HISTORY db.lifec"))
    // CTAS reads the registered snapshot table (incl. time travel source)
    SnapshotSql.execute(
      spark,
      "CREATE TABLE lifec2 USING `snapshot-table` LOCATION " +
        s"'$ctasRoot' AS SELECT k, v FROM lifec VERSION AS OF 2 WHERE k >= 5")
    assert(SnapshotSql.query(spark, "SELECT * FROM lifec2").count() == 5)
    // TBLPROPERTIES morWrites routes later DML merge-on-read
    val morRoot = freshRoot() + "/m"
    SnapshotSql.execute(
      spark,
      "CREATE TABLE lifem USING `snapshot-table` LOCATION " +
        s"'$morRoot' TBLPROPERTIES ('morWrites'='true') AS SELECT id AS k FROM range(100)")
    SnapshotSql.execute(spark, "DELETE FROM lifem WHERE k BETWEEN 10 AND 19")
    val hist = SnapshotTable.history(spark, morRoot)
    assert(hist.last.action == "mor-delete", s"TBLPROPERTIES must route MOR: ${hist.map(_.action)}")
    assert(SnapshotSql.query(spark, "SELECT * FROM lifem").count() == 90)
    // DESCRIBE DETAIL: current shape in one metadata-read row
    val det = SnapshotSql.query(spark, "DESCRIBE DETAIL lifec").collect().head
    assert(det.getAs[String]("name") == "lifec" && det.getAs[String]("location") == root)
    assert(det.getAs[Int]("version") == 3 && det.getAs[Long]("total_rows") == 4L)
    assert(!det.getAs[Boolean]("mor_writes"))
    // SHOW SNAPSHOT TABLES lists the session's registrations
    val shown = SnapshotSql.query(spark, "SHOW SNAPSHOT TABLES")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(shown.get("lifec").contains(root), shown.toString)
    // RESTORE TABLE rolls back as a metadata-only commit; bad shapes loud
    SnapshotSql.execute(spark, "RESTORE TABLE lifec TO VERSION AS OF 2")
    assert(SnapshotSql.query(spark, "SELECT * FROM lifec").count() == 10)
    assert(SnapshotTable.history(spark, root).last.action == "restore")
    intercept[RuntimeException](
      SnapshotSql.execute(spark, "RESTORE TABLE lifec VERSION AS OF 2")) // missing TO
    // DROP TABLE unregisters the NAME; the table root stays readable
    SnapshotSql.execute(spark, "DROP TABLE lifec2")
    intercept[RuntimeException](SnapshotSql.execute(spark, "DELETE FROM lifec2 WHERE k = 5"))
    assert(SnapshotTable.read(spark, ctasRoot).count() == 5, "data survives DROP (external semantics)")
    intercept[RuntimeException](SnapshotSql.execute(spark, "DROP TABLE lifec2"))
    SnapshotSql.execute(spark, "DROP TABLE IF EXISTS lifec2") // no-op, no error
    // refusals: missing LOCATION, wrong provider, PURGE
    intercept[RuntimeException](
      SnapshotSql.execute(spark, "CREATE TABLE nowhere (k INT) USING `snapshot-table`"))
    intercept[IllegalArgumentException](
      SnapshotSql.execute(spark, s"CREATE TABLE wrongp (k INT) USING parquet LOCATION '${freshRoot()}/p'"))
    intercept[IllegalArgumentException](SnapshotSql.execute(spark, "DROP TABLE lifec PURGE"))
    SnapshotSql.execute(spark, "DROP TABLE lifec")
    SnapshotSql.execute(spark, "DROP TABLE lifem")
  }

  test("router PARTITIONED BY maps to clustering; REPLACE TABLE re-declares with history intact") {
    val root = freshRoot() + "/pbr"
    // CREATE with a days() transform: the spec persists in the recorded
    // schema and writes range-cluster on the source column
    SnapshotSql.execute(
      spark,
      s"CREATE TABLE pbr (ts TIMESTAMP, k BIGINT) USING `snapshot-table` " +
        s"PARTITIONED BY (days(ts)) LOCATION '$root'")
    SnapshotSql.execute(
      spark,
      "INSERT INTO pbr SELECT timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,id*17), id FROM range(5000)")
    def specOf(): Seq[(String, String)] = {
      val m = SnapshotTable.readManifest(spark, root, SnapshotTable.latestVersion(spark, root).get)
      graft.sinks.SnapshotTable.clusterSpecOf(
        SnapshotTable.schemaFromJson(m.schemaJson.get))
    }
    assert(specOf() == Seq("ts" -> "days"), specOf())

    // CTAS with an identity transform through the router
    val ctasRoot = freshRoot() + "/pbc"
    SnapshotSql.execute(
      spark,
      s"CREATE TABLE pbc USING `snapshot-table` PARTITIONED BY (k) LOCATION '$ctasRoot' " +
        "AS SELECT k, ts FROM pbr")
    val mc = SnapshotTable.readManifest(spark, ctasRoot, 1)
    assert(
      graft.sinks.SnapshotTable
        .clusterSpecOf(SnapshotTable.schemaFromJson(mc.schemaJson.get)) == Seq("k" -> "identity"))
    assert(SnapshotSql.query(spark, "SELECT * FROM pbc").count() == 5000)

    // REPLACE TABLE AS SELECT: one `replace` commit, new schema + spec,
    // prior version time-travel-readable, constraints cleared
    SnapshotTable.addCheck(spark, ctasRoot, "k_pos", "k >= 0") // v2 (a constraint commit)
    SnapshotSql.execute(
      spark,
      s"REPLACE TABLE pbc USING `snapshot-table` LOCATION '$ctasRoot' " +
        "AS SELECT k AS k2 FROM pbr WHERE k < 100")
    assert(SnapshotTable.latestVersion(spark, ctasRoot).contains(3))
    assert(SnapshotTable.readManifest(spark, ctasRoot, 3).action == "replace")
    assert(SnapshotSql.query(spark, "SELECT * FROM pbc").columns.toSeq == Seq("k2"))
    assert(SnapshotSql.query(spark, "SELECT * FROM pbc").count() == 100)
    assert(SnapshotSql.query(spark, "SELECT * FROM pbc VERSION AS OF 1").count() == 5000)
    assert(SnapshotTable.readManifest(spark, ctasRoot, 3).constraints.isEmpty)
    // a row violating the old CHECK lands fine post-replace
    SnapshotSql.execute(spark, "INSERT INTO pbc SELECT CAST(-5 AS BIGINT)")
    assert(SnapshotSql.query(spark, "SELECT * FROM pbc WHERE k2 = -5").count() == 1)

    // plain REPLACE TABLE (no AS SELECT) — empty re-declaration;
    // REPLACE of a nonexistent root refuses without OR CREATE
    SnapshotSql.execute(
      spark,
      s"REPLACE TABLE pbc (a INT) USING `snapshot-table` LOCATION '$ctasRoot'")
    assert(SnapshotSql.query(spark, "SELECT * FROM pbc").columns.toSeq == Seq("a"))
    val missing = freshRoot() + "/nope"
    val e = intercept[Exception](SnapshotSql.execute(
      spark,
      s"REPLACE TABLE gone (a INT) USING `snapshot-table` LOCATION '$missing'"))
    assert(e.getMessage.contains("CREATE OR REPLACE"), e.getMessage)
    SnapshotSql.execute(
      spark,
      s"CREATE OR REPLACE TABLE fresh2 (a INT) USING `snapshot-table` LOCATION '$missing'")
    assert(SnapshotTable.latestVersion(spark, missing).contains(1))
  }

  test("WHEN NOT MATCHED BY SOURCE: conditional clauses prune via skeletons, unconditional pays the table") {
    val root = freshRoot()
    SnapshotTable.create(spark, root,
      fixture(2000).repartitionByRange(8, org.apache.spark.sql.functions.col("k")).sortWithinPartitions("k"))
    SnapshotSql.register(spark, "snap_nbs", root)
    fixture(100).selectExpr("k", "d", "CAST(7777 AS LONG) AS price_c").createOrReplaceTempView("nbs_src")
    val before = SnapshotTable.history(spark, root).last.files.map(_.path).toSet
    SnapshotSql.execute(spark,
      "MERGE INTO snap_nbs AS t USING nbs_src AS s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET price_c = s.price_c " +
        "WHEN NOT MATCHED BY SOURCE AND t.k >= 1900 THEN DELETE " +
        "WHEN NOT MATCHED BY SOURCE AND t.k BETWEEN 1800 AND 1820 THEN UPDATE SET price_c = -1")
    val got = SnapshotTable.read(spark, root)
    assert(got.count() == 1900, "k 1900..1999 deleted")
    assert(got.filter("k < 100 AND price_c != 7777").count() == 0, "matched rows updated")
    assert(got.filter("k BETWEEN 1800 AND 1820").filter("price_c != -1").count() == 0)
    assert(got.filter("price_c = -1").count() == 21)
    assert(got.filter("k BETWEEN 1821 AND 1899").count() == 79, "no clause applies: rows keep")
    // skeleton pruning: the matched keys live in file 0, both BY SOURCE
    // conditions prune to the top file — the middle files carry untouched
    val after = SnapshotTable.history(spark, root).last.files.map(_.path).toSet
    assert(after.intersect(before).size >= 5,
      s"BY SOURCE skeletons must prune the rewrite: carried ${after.intersect(before).size} of 8")
    // unconditional delete-unmatched: only source keys survive (the
    // honest full-table rewrite), incl. against an EMPTY source (clears)
    val root2 = freshRoot()
    SnapshotTable.create(spark, root2, fixture(500))
    SnapshotSql.register(spark, "snap_nbs2", root2)
    SnapshotSql.execute(spark,
      "MERGE INTO snap_nbs2 AS t USING nbs_src AS s ON t.k = s.k " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    assert(SnapshotTable.read(spark, root2).count() == 100, "only matched keys survive")
    fixture(0).createOrReplaceTempView("nbs_empty")
    SnapshotSql.execute(spark,
      "MERGE INTO snap_nbs2 AS t USING nbs_empty AS s ON t.k = s.k " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    assert(SnapshotTable.read(spark, root2).count() == 0,
      "every row is unmatched by an empty source: the table clears")
    // a BY SOURCE clause referencing the SOURCE alias is refused loudly —
    // it would silently evaluate against an all-NULL source row (the
    // condition never applies, the SET writes NULL)
    val eSrc = intercept[RuntimeException] {
      SnapshotSql.execute(spark,
        "MERGE INTO snap_nbs AS t USING nbs_src AS s ON t.k = s.k " +
          "WHEN NOT MATCHED BY SOURCE AND s.k >= 1900 THEN DELETE")
    }
    assert(eSrc.getMessage.contains("source alias"), eSrc.getMessage)
  }

  test("maintenance-statement edges: qualified-name refusal, age guard, sane defaults, strict TVF typing") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(500))
    SnapshotSql.register(spark, "snap_me", root)
    // a qualified name must never hijack a registration for a DESTRUCTIVE op
    val eQ = intercept[IllegalArgumentException] {
      SnapshotSql.execute(spark, "VACUUM warehouse.snap_me RETAIN 1 VERSIONS")
    }
    assert(eQ.getMessage.contains("qualified"), eQ.getMessage)
    // trailing semicolons are accepted like every parser-routed statement;
    // OPTIMIZE without INTO targets ~128MB files — a tiny table COMPACTS
    // to one file, never fragments to core count
    SnapshotSql.execute(spark, "OPTIMIZE snap_me ZORDER BY (K, price_c);") // case-insensitive cols
    assert(SnapshotTable.read(spark, root).inputFiles.length == 1,
      "default OPTIMIZE must compact a small table, not fragment it")
    assert(SnapshotTable.read(spark, root).count() == 500)
    // VACUUM ... OLDER THAN <h> HOURS is the live-writer age guard: a
    // freshly-written unreferenced dir (an in-flight commit's shape)
    // survives the gated run and goes on an un-gated one
    fixture(5).write.parquet(root + "/data/in-flight")
    SnapshotSql.execute(spark, "VACUUM snap_me RETAIN 1 VERSIONS OLDER THAN 1 HOURS;")
    assert(new java.io.File(root + "/data/in-flight").isDirectory, "young orphan presumed in-flight")
    SnapshotSql.execute(spark, "VACUUM snap_me RETAIN 1 VERSIONS")
    assert(!new java.io.File(root + "/data/in-flight").exists, "un-gated vacuum reclaims the orphan")
    // strict table_changes typing: string/fractional versions refused, not cast
    val eS = intercept[RuntimeException] {
      SnapshotSql.query(spark, "SELECT * FROM table_changes('snap_me', '1', 2)")
    }
    assert(eS.getMessage.contains("integer version literal"), eS.getMessage)
    val eD = intercept[RuntimeException] {
      SnapshotSql.query(spark, "SELECT * FROM table_changes('snap_me', 1.5, 2)")
    }
    assert(eD.getMessage.contains("integer version literal"), eD.getMessage)
  }

  test("refusals: unregistered targets, non-DML text, unsupported merge shapes") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, fixture(10))
    val e1 = intercept[RuntimeException] {
      SnapshotSql.execute(spark, "DELETE FROM not_registered WHERE k = 1")
    }
    assert(e1.getMessage.contains("not a registered snapshot table"), e1.getMessage)
    SnapshotSql.register(spark, "snap4", root)
    val e2 = intercept[RuntimeException] {
      SnapshotSql.execute(spark, "SELECT * FROM snap4")
    }
    assert(e2.getMessage.contains("not a DML/DDL statement"), e2.getMessage)
    fixture(5).createOrReplaceTempView("msrc")
    val e3 = intercept[RuntimeException] {
      SnapshotSql.execute(spark,
        "MERGE INTO snap4 AS t USING msrc AS s ON t.k > s.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e3.getMessage.contains("key equalities"), e3.getMessage)
    val e4 = intercept[RuntimeException] {
      SnapshotSql.execute(spark, "UPDATE snap4 SET price_c = 0")
    }
    assert(e4.getMessage.contains("whole table"), e4.getMessage)
    // nothing committed by any refusal
    assert(SnapshotTable.latestVersion(spark, root).contains(1))
  }
}
