package graft

import java.sql.DriverManager
import java.util.Properties

import graft.sinks.JdbcSink

/** cap_sink_jdbc (SURVEY.md §2.A): Derby round-trip — append, idempotent
  * keyed upsert, type fidelity. Derby is the only JDBC backend in this
  * zero-egress image (SURVEY.md §7.5 H3); the MySQL dialect differs only in
  * the upsert statement behind JdbcSink.UpsertDialect.
  */
class JdbcSinkSpec extends SparkSuite {
  private val url = "jdbc:derby:memory:graftdb;create=true"
  private val table = "products"

  private def withConn[A](f: java.sql.Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c)
    finally c.close()
  }

  private def readBack() = {
    val props = new Properties()
    spark.read.jdbc(url, table, props)
  }

  test("cap_sink_jdbc: append, then idempotent upsert") {
    import spark.implicits._
    withConn { c =>
      val st = c.createStatement()
      try st.execute(s"DROP TABLE $table")
      catch { case _: java.sql.SQLException => () }
      st.execute(
        s"CREATE TABLE $table (upc BIGINT PRIMARY KEY, name VARCHAR(64), price DOUBLE, loaded_at TIMESTAMP)")
      st.close()
    }
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val initial = Seq(
      (1L, "widget", 9.99, t0),
      (2L, "gadget", 19.99, t0),
      (3L, "gizmo", 29.99, t0)
    ).toDF("upc", "name", "price", "loaded_at")
    JdbcSink.writeAppend(initial, url, table, new Properties())
    assert(readBack().count() == 3)

    // Upsert: key 2 changes price, key 4 is new.
    val delta = Seq(
      (2L, "gadget", 24.99, t0),
      (4L, "doohickey", 5.0, t0)
    ).toDF("upc", "name", "price", "loaded_at")
    assert(JdbcSink.upsert(delta, url, table, keyCols = Seq("upc")) == 2)
    val afterFirst = readBack().collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(afterFirst.size == 4)
    assert(afterFirst(2L) == 24.99)
    assert(afterFirst(4L) == 5.0)

    // Idempotence: re-running the same upsert changes nothing.
    JdbcSink.upsert(delta, url, table, keyCols = Seq("upc"))
    val afterSecond = readBack().collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(afterSecond == afterFirst)

    // Type fidelity through the round trip.
    val row = readBack().filter("upc = 1").head()
    assert(row.getString(1) == "widget")
    assert(row.getDouble(2) == 9.99)
    assert(row.getTimestamp(3) == t0)
  }

  test("cap_stream_sink_jdbc: foreachBatch streaming upsert converges under replayed keys") {
    import spark.implicits._
    val streamTable = "stream_products"
    withConn { c =>
      val st = c.createStatement()
      try st.execute(s"DROP TABLE $streamTable")
      catch { case _: java.sql.SQLException => () }
      st.execute(s"CREATE TABLE $streamTable (upc BIGINT PRIMARY KEY, name VARCHAR(64), price DOUBLE)")
      st.close()
    }
    implicit val sq = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = JdbcSink.streamUpsert(
      ms.toDF().toDF("upc", "name", "price"),
      url,
      streamTable,
      keyCols = Seq("upc"),
      checkpointDir = ckpt)
    try {
      ms.addData((1L, "widget", 9.99), (2L, "gadget", 19.99))
      q.processAllAvailable()
      // second micro-batch re-delivers key 1 (price change) + a new key —
      // the at-least-once replay shape
      ms.addData((1L, "widget", 11.49), (3L, "gizmo", 29.99))
      q.processAllAvailable()
      val rows = spark.read
        .jdbc(url, streamTable, new Properties())
        .collect()
        .map(r => r.getLong(0) -> r.getDouble(2))
        .toMap
      assert(rows == Map(1L -> 11.49, 2L -> 19.99, 3L -> 29.99), s"got $rows")
    } finally q.stop()
  }

  test("cap_stream_sink_jdbc: epoch-transactional append is exactly-once for NON-KEYED rows") {
    import spark.implicits._
    val target = "xo_events"
    val staging = "xo_events_stage"
    val epochs = "xo_epochs"
    withConn { c =>
      val st = c.createStatement()
      for (t <- Seq(target, staging, epochs))
        try st.execute(s"DROP TABLE $t")
        catch { case _: java.sql.SQLException => () }
      // no primary key on the target — a replayed append would duplicate
      st.execute(s"CREATE TABLE $target (ev VARCHAR(64), amount DOUBLE)")
      st.execute(
        s"CREATE TABLE $staging (ev VARCHAR(64), amount DOUBLE, graft_batch_id BIGINT, graft_part_id BIGINT)")
      st.execute(
        s"CREATE TABLE $epochs (sink_table VARCHAR(128), batch_id BIGINT, " +
          s"PRIMARY KEY (sink_table, batch_id))")
      st.close()
    }
    def targetRows() =
      spark.read.jdbc(url, target, new Properties()).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq.sorted
    val b0 = Seq(("click", 1.0), ("click", 1.0), ("view", 2.0)).toDF("ev", "amount")
    // normal epoch
    JdbcSink.appendEpochExactlyOnce(b0, 0L, url, target, staging, epochs)
    val after0 = targetRows()
    assert(after0.size == 3, s"epoch 0 should append 3 rows, got $after0")
    // REPLAYED epoch (restart after commit): zero duplicate effects
    JdbcSink.appendEpochExactlyOnce(b0, 0L, url, target, staging, epochs)
    assert(targetRows() == after0, "replayed committed epoch duplicated rows")
    // crash BETWEEN staging and publish: simulate by pre-polluting staging
    // with a partial stage of epoch 1, then running the epoch normally —
    // step 2's wipe must discard the partial rows, not double them
    withConn { c =>
      val st = c.prepareStatement(s"INSERT INTO $staging VALUES (?, ?, ?, ?)")
      st.setString(1, "stale"); st.setDouble(2, 9.9); st.setLong(3, 1L); st.setLong(4, 0L)
      st.executeUpdate(); st.close()
    }
    val b1 = Seq(("buy", 5.0)).toDF("ev", "amount")
    JdbcSink.appendEpochExactlyOnce(b1, 1L, url, target, staging, epochs)
    val after1 = targetRows()
    assert(after1 == (after0 :+ ("buy", 5.0)).sorted, s"partial stage leaked: $after1")
    // staging drained after publish
    val staged = spark.read.jdbc(url, staging, new Properties()).count()
    assert(staged == 0L, s"staging not drained: $staged rows")
    // and the streaming wrapper drives the same path end-to-end — on a
    // FRESH target: MemoryStream batch ids restart at 0, and epoch
    // (target, 0) above is already committed, so reusing the same target
    // would (correctly!) skip the batch
    val target2 = "xo_events2"
    withConn { c =>
      val st = c.createStatement()
      try st.execute(s"DROP TABLE $target2")
      catch { case _: java.sql.SQLException => () }
      st.execute(s"CREATE TABLE $target2 (ev VARCHAR(64), amount DOUBLE)")
      st.close()
    }
    implicit val sq = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-xo-ckpt").toString
    val q = JdbcSink.streamAppendExactlyOnce(
      ms.toDF().toDF("ev", "amount"), url, target2, staging, epochs, ckpt)
    try {
      ms.addData(("stream", 7.0))
      q.processAllAvailable()
      val got = spark.read.jdbc(url, target2, new Properties()).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(got == Seq(("stream", 7.0)), s"streaming epoch append missing: $got")
    } finally q.stop()
  }

  test("staging is idempotent across task retry, speculation, and crash-mid-insert windows") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    val target = "xo_retry_target"
    val staging = "xo_retry_stage"
    val epochs = "xo_retry_epochs"
    withConn { c =>
      val st = c.createStatement()
      for (t <- Seq(target, staging, epochs))
        try st.execute(s"DROP TABLE $t")
        catch { case _: java.sql.SQLException => () }
      st.execute(s"CREATE TABLE $target (ev VARCHAR(64), amount DOUBLE)")
      st.execute(
        s"CREATE TABLE $staging (ev VARCHAR(64), amount DOUBLE, graft_batch_id BIGINT, graft_part_id BIGINT)")
      st.execute(
        s"CREATE TABLE $epochs (sink_table VARCHAR(128), batch_id BIGINT, " +
          s"PRIMARY KEY (sink_table, batch_id))")
      st.close()
    }
    def stagedRows() =
      spark.read.jdbc(url, staging, new Properties()).collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    val cols = Seq("ev", "amount")
    def partRows() = Seq(Row("a", 1.0), Row("a", 1.0), Row("b", 2.0))

    // WINDOW 1 — retry AFTER a committed attempt (task succeeded in the DB
    // but the ack was lost; Spark reruns the task): the second attempt must
    // wipe the first attempt's slice, not double it. Duplicate ROWS inside
    // the partition are legitimate data and must survive.
    JdbcSink.stagePartition(url, partRows().iterator, cols, staging, 7L, 0L, batchSize = 2)
    JdbcSink.stagePartition(url, partRows().iterator, cols, staging, 7L, 0L, batchSize = 2)
    assert(
      stagedRows() == Seq(("a", 1.0, 7L, 0L), ("a", 1.0, 7L, 0L), ("b", 2.0, 7L, 0L)),
      s"retry-after-commit duplicated the slice: ${stagedRows()}")

    // WINDOW 2 — crash MID-INSERT (iterator throws between batch flushes):
    // the attempt must roll back, leaving the prior attempt's committed
    // slice intact, and a clean retry must converge to exactly one copy.
    val bomb: Iterator[Row] = partRows().iterator.map { r =>
      if (r.getString(0) == "b") throw new RuntimeException("mid-insert crash") else r
    }
    intercept[RuntimeException] {
      JdbcSink.stagePartition(url, bomb, cols, staging, 7L, 0L, batchSize = 1)
    }
    assert(
      stagedRows() == Seq(("a", 1.0, 7L, 0L), ("a", 1.0, 7L, 0L), ("b", 2.0, 7L, 0L)),
      s"crashed attempt leaked uncommitted rows: ${stagedRows()}")
    JdbcSink.stagePartition(url, partRows().iterator, cols, staging, 7L, 0L, batchSize = 2)
    assert(stagedRows().size == 3, s"retry after crash diverged: ${stagedRows()}")

    // a second PARTITION of the same batch lands beside it, untouched by
    // partition 0's retries
    JdbcSink.stagePartition(url, Iterator(Row("c", 3.0)), cols, staging, 7L, 1L, batchSize = 2)
    assert(stagedRows().size == 4)

    // WINDOW 3 — whole-stage speculation at the DataFrame level, then the
    // full epoch protocol: publish must see exactly one copy of the batch.
    withConn { c =>
      val st = c.createStatement(); st.execute(s"DELETE FROM $staging"); st.close()
    }
    val batch = Seq(("click", 1.0), ("click", 1.0), ("view", 2.0)).toDF("ev", "amount")
    JdbcSink.stageBatchIdempotent(batch, 0L, url, staging) // doomed attempt that staged fully
    JdbcSink.appendEpochExactlyOnce(batch, 0L, url, target, staging, epochs)
    val got = spark.read.jdbc(url, target, new Properties()).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq.sorted
    assert(got == Seq(("click", 1.0), ("click", 1.0), ("view", 2.0)), s"published duplicates: $got")
    assert(stagedRows().isEmpty, "staging not drained after publish")
  }

  test("a failed upsert chunk rolls back and surfaces its own error") {
    import spark.implicits._
    val narrow = "products_narrow"
    withConn { c =>
      val st = c.createStatement()
      try st.execute(s"DROP TABLE $narrow")
      catch { case _: java.sql.SQLException => () }
      st.execute(s"CREATE TABLE $narrow (upc BIGINT PRIMARY KEY, brand VARCHAR(4), price DOUBLE)")
      st.execute(s"INSERT INTO $narrow VALUES (1, 'ab', 1.0)")
      st.close()
    }
    // one chunk: key 1's update succeeds, then key 2's insert overflows
    // `brand`, so the chunk's transaction holds work when it fails
    val delta = Seq((1L, "ab", 2.0), (2L, "too wide", 3.0)).toDF("upc", "brand", "price").coalesce(1)
    val e = intercept[Exception](JdbcSink.upsert(delta, url, narrow, keyCols = Seq("upc")))
    val states = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collect { case s: java.sql.SQLException => s.getSQLState }.toList
    assert(states.contains("22001") && !states.contains("25001"), s"SQLStates: $states")
    val rows = withConn { c =>
      val rs = c.createStatement().executeQuery(s"SELECT upc, brand, price FROM $narrow")
      Iterator.continually(rs).takeWhile(_.next()).map(r => (r.getLong(1), r.getString(2), r.getDouble(3))).toList
    }
    assert(rows == List((1L, "ab", 1.0)), "the failed chunk's update was not rolled back")
  }

  test("upsert tolerates repeated keys within one micro-batch chunk (last wins)") {
    import spark.implicits._
    val dupTable = "dup_products"
    withConn { c =>
      val st = c.createStatement()
      try st.execute(s"DROP TABLE $dupTable")
      catch { case _: java.sql.SQLException => () }
      st.execute(s"CREATE TABLE $dupTable (upc BIGINT PRIMARY KEY, name VARCHAR(64), price DOUBLE)")
      st.close()
    }
    // Two NEW rows with the same key in one partition: the naive two-wave
    // batch protocol double-inserts (PK violation). coalesce(1) pins both
    // rows into one chunk so in-chunk order is the Seq order → last wins.
    val batch = Seq(
      (7L, "first", 1.0),
      (7L, "second", 2.0),
      (8L, "other", 3.0)
    ).toDF("upc", "name", "price").coalesce(1)
    // the returned count is the rows received, repeated keys included
    assert(JdbcSink.upsert(batch, url, dupTable, keyCols = Seq("upc")) == 3)
    def rows() = spark.read
      .jdbc(url, dupTable, new Properties())
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(rows() == Set((7L, "second", 2.0), (8L, "other", 3.0)), s"got ${rows()}")
    // an empty frame writes nothing and counts 0
    assert(JdbcSink.upsert(batch.limit(0), url, dupTable, keyCols = Seq("upc")) == 0)
    assert(rows() == Set((7L, "second", 2.0), (8L, "other", 3.0)))
  }

  test("OnDuplicateKeyDialect emits the single-statement MySQL upsert") {
    val sql = JdbcSink.onDuplicateKeySql(
      "products",
      allCols = Seq("upc", "name", "price", "loaded_at"),
      keyCols = Seq("upc"))
    assert(
      sql == "INSERT INTO products (upc, name, price, loaded_at) " +
        "VALUES (?, ?, ?, ?) " +
        "ON DUPLICATE KEY UPDATE name = VALUES(name), price = VALUES(price), " +
        "loaded_at = VALUES(loaded_at)")
  }

  test("golden: portable two-wave dialect text (what every Derby spec actually executes)") {
    assert(
      JdbcSink.updateSql("products", keyCols = Seq("upc"), valCols = Seq("name", "price")) ==
        "UPDATE products SET name = ?, price = ? WHERE upc = ?")
    // composite keys AND-chain in declared order
    assert(
      JdbcSink.updateSql("t", keyCols = Seq("a", "b"), valCols = Seq("v")) ==
        "UPDATE t SET v = ? WHERE a = ? AND b = ?")
    assert(
      JdbcSink.insertSql("products", Seq("upc", "name", "price")) ==
        "INSERT INTO products (upc, name, price) VALUES (?, ?, ?)")
  }

  test("golden: MySQL CREATE TABLE DDL from a Spark schema") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("upc", StringType, nullable = true),
      StructField("name", StringType, nullable = true),
      StructField("brand", StringType, nullable = false),
      StructField("price", DoubleType, nullable = true),
      StructField("qty", LongType, nullable = true),
      StructField("pct", DecimalType(10, 4), nullable = true),
      StructField("active", BooleanType, nullable = true),
      StructField("img", BinaryType, nullable = true),
      StructField("loaded_at", TimestampType, nullable = true)))
    assert(
      JdbcSink.mysqlCreateTableDdl("products", schema, keyCols = Seq("upc")) ==
        "CREATE TABLE products (" +
        "upc VARCHAR(255) NOT NULL, " +       // key string: bounded (InnoDB key prefix), implicitly NOT NULL
        "name TEXT, " +                       // non-key string: unbounded
        "brand TEXT NOT NULL, " +             // nullable=false survives the mapping
        "price DOUBLE, " +
        "qty BIGINT, " +
        "pct DECIMAL(10, 4), " +
        "active BOOLEAN, " +
        "img BLOB, " +
        "loaded_at DATETIME(6), " +           // NOT TIMESTAMP: 2038 + session-tz hazards
        "PRIMARY KEY (upc))")
    // keyless table: no PRIMARY KEY clause
    val bare = StructType(Seq(StructField("n", IntegerType, nullable = true)))
    assert(JdbcSink.mysqlCreateTableDdl("t", bare, Nil) == "CREATE TABLE t (n INT)")
    // unmappable type fails loudly at DDL time, not at first insert
    val arr = StructType(Seq(StructField("xs", ArrayType(LongType), nullable = true)))
    val ex = intercept[RuntimeException] { JdbcSink.mysqlCreateTableDdl("t", arr, Nil) }
    assert(ex.getMessage.contains("no MySQL mapping"), ex.getMessage)
  }
}
