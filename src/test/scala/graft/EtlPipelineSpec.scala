package graft

import java.sql.DriverManager

import graft.pipeline.UpcSkuLoad
import org.apache.spark.sql.functions._

/** The reference's behavior end-to-end: extract → validate → dedup →
  * idempotent JDBC load, run twice (no-op) and with changed input (in-place
  * update). This is the "could a user of the reference switch to this
  * library" test at the pipeline level.
  */
class EtlPipelineSpec extends SparkSuite {
  private val url = "jdbc:derby:memory:etldb;create=true"
  private val table = "products_pipeline"

  test("reference-shaped ETL: validated load, idempotent re-run, in-place update") {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.execute(s"DROP TABLE $table")
      catch { case _: java.sql.SQLException => () }
      st.execute(
        s"CREATE TABLE $table (upc CHAR(12) PRIMARY KEY, name VARCHAR(128), brand VARCHAR(32), price DOUBLE, loaded_at TIMESTAMP)")
      st.close()
    } finally c.close()

    val n = UpcSkuLoad.run(spark, sf001, url, table)
    def loaded() = spark.read.jdbc(url, table, new java.util.Properties())
    assert(n == 200, s"expected all 200 sf0.001 parts to validate, got $n") // every synthesized UPC is valid
    assert(loaded().count() == n)

    // idempotence: a second full run changes nothing but the load timestamp
    UpcSkuLoad.run(spark, sf001, url, table)
    assert(loaded().count() == n)

    // in-place update: bump one part's price upstream, re-load, only that
    // row's price changes
    val before = loaded().select("upc", "price").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val changed = UpcSkuLoad
      .dedup(UpcSkuLoad.validate(UpcSkuLoad.extract(spark, sf001)))
      .withColumn("price", when(col("upc").startsWith("00000000001"), col("price") + 1.0).otherwise(col("price")))
    UpcSkuLoad.load(changed, url, table)
    val after = loaded().select("upc", "price").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(after.size == before.size)
    val diffs = after.filter { case (k, v) => before(k) != v }
    assert(diffs.nonEmpty && diffs.keys.forall(_.startsWith("00000000001")),
      s"unexpected diff set: ${diffs.take(5)}")

    // validation actually rejects: corrupt check digits are filtered out.
    // The corrupt frame is MATERIALIZED (localCheckpoint) before validate:
    // in production corrupt input arrives from storage as plain columns, not
    // as a third expression layer composed over extract's check-digit
    // arithmetic — unmaterialized, predicate pushdown would inline the full
    // 3-layer tower into one Filter and blow the 64 KB codegen method limit.
    val corrupted = UpcSkuLoad
      .extract(spark, sf001)
      .localCheckpoint(true)
      .withColumn(
        "upc",
        concat(
          substring(col("upc"), 1, 11),
          ((substring(col("upc"), 12, 1).cast("int") + 1) % 10).cast("string")))
    assert(UpcSkuLoad.validate(corrupted).count() == 0)
  }

  test("paginated consumption lands the exact table the batch run does; page replay is a no-op") {
    val pagedTable = "products_paged"
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.execute(s"DROP TABLE $pagedTable")
      catch { case _: java.sql.SQLException => () }
      st.execute(
        s"CREATE TABLE $pagedTable (upc CHAR(12) PRIMARY KEY, name VARCHAR(128), brand VARCHAR(32), price DOUBLE, loaded_at TIMESTAMP)")
      st.close()
    } finally c.close()

    // 37 never divides 200: the protocol must survive a partial last page
    val source = new graft.pipeline.FixturePagedSource(spark, sf001, pageSize = 37)
    assert(source.fetchPage(5).get.size == 15, "partial final page expected")
    assert(source.fetchPage(6).isEmpty && source.fetchPage(-1).isEmpty)

    // the batch test above left bumped prices behind; re-run the batch load
    // so the comparison target is the clean pipeline output
    UpcSkuLoad.run(spark, sf001, url, table)

    val n = UpcSkuLoad.runPaged(spark, source, url, pagedTable)
    assert(n == 200, s"expected all 200 parts across pages, got $n")
    def snapshot(t: String) = spark.read.jdbc(url, t, new java.util.Properties())
      .select("upc", "name", "brand", "price")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
      .toSet
    // batch table was loaded by the test above (same suite, same Derby db)
    assert(snapshot(pagedTable) == snapshot(table), "paged result differs from batch result")

    // crash-recovery contract: replaying an already-consumed page converges
    val replay = UpcSkuLoad.dedup(UpcSkuLoad.validate(UpcSkuLoad.toProducts {
      import spark.implicits._
      spark.createDataset(source.fetchPage(2).get).toDF()
    }))
    UpcSkuLoad.load(replay, url, pagedTable)
    assert(snapshot(pagedTable) == snapshot(table), "page replay changed the table")
  }

  test("a page runs as a handful of tasks, not one per initial shuffle partition") {
    import java.util.concurrent.atomic.AtomicLong
    import graft.pipeline.{FixturePagedSource, PagedSource, RawProduct}
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val shapeTable = "products_page_shape"
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.execute(s"DROP TABLE $shapeTable")
      catch { case _: java.sql.SQLException => () }
      st.execute(
        s"CREATE TABLE $shapeTable (upc CHAR(12) PRIMARY KEY, name VARCHAR(128), brand VARCHAR(32), price DOUBLE, loaded_at TIMESTAMP)")
      st.close()
    } finally c.close()

    // Bench's wide-then-coalesce setting: a page plan that keeps AQE from
    // coalescing the dedup shuffle runs (and connects from) every one of
    // these initial partitions
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val prior = spark.conf.getOption(key)
    val sc = spark.sparkContext
    val tasks = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    val fixture = new FixturePagedSource(spark, sf001, pageSize = 37)
    fixture.fetchPage(0) // the row-count job runs once, before the walk
    // tasks seen when each fetch starts and when it returns: page i's
    // tasks are its fetch plus its load
    val marks, returns = scala.collection.mutable.ArrayBuffer.empty[Long]
    val source = new PagedSource {
      def fetchPage(p: Int): Option[Seq[RawProduct]] = {
        ListenerBusDrain.drain(sc)
        marks += tasks.get
        val page = fixture.fetchPage(p)
        ListenerBusDrain.drain(sc)
        returns += tasks.get
        page
      }
    }
    spark.conf.set(key, "256")
    sc.addSparkListener(listener)
    val n =
      try UpcSkuLoad.runPaged(spark, source, url, shapeTable)
      finally {
        sc.removeSparkListener(listener)
        prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      }
    assert(n == 200, s"expected all 200 parts across pages, got $n")
    val perPage = marks.zip(marks.tail).map { case (a, b) => b - a }
    assert(perPage.size == 6, s"expected 6 pages, got ${perPage.size}")
    assert(perPage.forall(_ < 32), s"tasks per page: $perPage")
    // the load runs on the driver: no task between a fetch and the next
    val loads = returns.zip(marks.tail).map { case (a, b) => b - a }
    assert(loads.forall(_ == 0), s"tasks per page load: $loads")
  }

  test("a page evaluated on the driver lands what the per-page Spark plan lands") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed
    import graft.pipeline.{PagedSource, RawProduct}
    import spark.implicits._
    // price is text: NaN passes the `price <= 0` check (Spark orders NaN
    // above every number) and Derby's DOUBLE cannot hold it
    def freshTable(t: String): Unit = {
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        try st.execute(s"DROP TABLE $t")
        catch { case _: java.sql.SQLException => () }
        st.execute(
          s"CREATE TABLE $t (upc CHAR(12) PRIMARY KEY, name VARCHAR(128), brand VARCHAR(32), price VARCHAR(32), loaded_at TIMESTAMP)")
        st.close()
      } finally c.close()
    }
    def rows(t: String): Seq[(String, String, String, String, java.sql.Timestamp)] = {
      val c = DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(s"SELECT upc, name, brand, price, loaded_at FROM $t")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getString(1), r.getString(2), r.getString(3), r.getString(4), r.getTimestamp(5)))
          .toList
      } finally c.close()
    }
    val partkey = Gen.frequency(
      8 -> Gen.choose(0L, 5L), // repeats within and across pages
      1 -> Gen.oneOf(99999999999L, 100000000000L, 123456789012L, Long.MaxValue, -1L, -7L, Long.MinValue))
    // U+FF21 sorts after U+1F600 in UTF-16 (the latter is a surrogate
    // pair) but before it in UTF-8 bytes, the order of Spark's sort
    val name = Gen.frequency(
      3 -> Gen.oneOf("\uFF21", "\uD83D\uDE00", "x\uFF21", "x\uD83D\uDE00"),
      1 -> Gen.oneOf(null, "", "   ", "a", " \u00E9 "))
    val brand = Gen.oneOf(null, "B", "Brand#13")
    val price = Gen.frequency(1 -> Gen.oneOf(0.0, -0.0, -2.5, Double.NaN), 3 -> Gen.choose(0.01, 100.0))
    val row = for (k <- partkey; n <- name; b <- brand; p <- price) yield RawProduct(k, n, b, p)
    // dedup keeps an arbitrary one of two rows tied on (upc, name): no ties
    val page = Gen.choose(0, 12).flatMap(Gen.listOfN(_, row)).map(_.distinctBy(r => (r.partkey, r.name)))
    val walk = Gen.choose(1, 4).flatMap(Gen.listOfN(_, page))
    val prop = Prop.forAllNoShrink(walk) { pages =>
      freshTable("prop_driver")
      freshTable("prop_plan")
      val n = UpcSkuLoad.runPaged(spark, new PagedSource {
        def fetchPage(p: Int): Option[Seq[RawProduct]] = pages.lift(p)
      }, url, "prop_driver")
      val lastPage = scala.collection.mutable.Map.empty[String, Int]
      val m = pages.zipWithIndex.map { case (p, i) =>
        val survivors = UpcSkuLoad.dedup(UpcSkuLoad.validate(UpcSkuLoad.toProducts(spark.createDataset(p).toDF())))
        survivors.select("upc").as[String].collect().foreach(lastPage(_) = i)
        UpcSkuLoad.load(survivors, url, "prop_plan")
      }.sum
      val got = rows("prop_driver")
      assert(n == m, s"rows upserted: driver $n, plan $m")
      assert(got.map(r => r.copy(_5 = null)).toSet == rows("prop_plan").map(r => r.copy(_5 = null)).toSet)
      val stamps = got.groupBy(r => lastPage(r._1)).map { case (i, rs) => i -> rs.map(_._5).distinct }
      assert(stamps.values.forall(_.size == 1), s"loaded_at per page: $stamps")
      val ordered = stamps.toSeq.sortBy(_._1).map(_._2.head)
      assert(ordered.zip(ordered.drop(1)).forall { case (a, b) => a.before(b) }, s"loaded_at per page: $stamps")
      true
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(25).withInitialSeed(Seed(6L)), prop)
    assert(result.passed, result.status)
  }

  test("an interrupted fetch is rethrown at once, not retried") {
    import graft.pipeline.{PagedSource, RawProduct, RetryingPagedSource}
    var attempts = 0
    val cancelled = new PagedSource {
      def fetchPage(p: Int): Option[Seq[RawProduct]] = {
        attempts += 1
        throw new InterruptedException("cancelled")
      }
    }
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val src = new RetryingPagedSource(cancelled, maxRetries = 3, backoffMs = 100L, sleep = slept += _)
    intercept[InterruptedException](src.fetchPage(0))
    assert(Thread.interrupted(), "interrupt flag not restored") // and cleared for the next test
    assert(slept.isEmpty && attempts == 1, s"slept $slept over $attempts fetch attempts")
  }

  test("adversarial paging: transient failures, permanent abort + resume, duplicate/stale/shrunken pages all converge") {
    import graft.pipeline.{PagedSource, RawProduct, RetryingPagedSource}
    val healthy = new graft.pipeline.FixturePagedSource(spark, sf001, pageSize = 37)
    def freshTable(t: String): Unit = {
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        try st.execute(s"DROP TABLE $t")
        catch { case _: java.sql.SQLException => () }
        st.execute(
          s"CREATE TABLE $t (upc CHAR(12) PRIMARY KEY, name VARCHAR(128), brand VARCHAR(32), price DOUBLE, loaded_at TIMESTAMP)")
        st.close()
      } finally c.close()
    }
    def snapshot(t: String) = spark.read.jdbc(url, t, new java.util.Properties())
      .select("upc", "name", "brand", "price")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
      .toSet
    freshTable("adv_batch")
    UpcSkuLoad.run(spark, sf001, url, "adv_batch")
    val want = snapshot("adv_batch")

    // FAILURE 1 — transient fetch errors mid-walk: page 3 fails twice then
    // succeeds. Bounded retry absorbs it; backoff doubles deterministically.
    locally {
      var failsLeft = 2
      val flaky = new PagedSource {
        def fetchPage(p: Int): Option[Seq[RawProduct]] =
          if (p == 3 && failsLeft > 0) { failsLeft -= 1; throw new RuntimeException("503") }
          else healthy.fetchPage(p)
      }
      val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
      val src = new RetryingPagedSource(flaky, maxRetries = 3, backoffMs = 100L, sleep = slept += _)
      freshTable("adv_t1")
      UpcSkuLoad.runPaged(spark, src, url, "adv_t1")
      assert(slept.toSeq == Seq(100L, 200L), s"backoff schedule: $slept")
      assert(snapshot("adv_t1") == want, "transient-failure walk diverged")
    }

    // FAILURE 2 — permanent failure aborts the walk after retries are
    // exhausted; a full re-walk (the crash-recovery resume) converges with
    // zero duplicates because every page replay is an idempotent upsert.
    locally {
      var broken = true
      val dying = new PagedSource {
        def fetchPage(p: Int): Option[Seq[RawProduct]] =
          if (p == 3 && broken) throw new RuntimeException("connection reset")
          else healthy.fetchPage(p)
      }
      val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
      val src = new RetryingPagedSource(dying, maxRetries = 2, backoffMs = 50L, sleep = slept += _)
      freshTable("adv_t2")
      intercept[RuntimeException] { UpcSkuLoad.runPaged(spark, src, url, "adv_t2") }
      assert(slept.toSeq == Seq(50L, 100L), s"backoff schedule before giving up: $slept")
      assert(snapshot("adv_t2").nonEmpty && snapshot("adv_t2") != want, "prefix load expected")
      broken = false // upstream recovers; resume = replay the walk
      UpcSkuLoad.runPaged(spark, src, url, "adv_t2")
      assert(snapshot("adv_t2") == want, "resume after mid-walk abort diverged")
    }

    // FAILURE 3 — duplicate page delivery (page 2 arrives again as index 3,
    // real stream continues shifted): at-least-once delivery converges.
    locally {
      val dup = new PagedSource {
        def fetchPage(p: Int): Option[Seq[RawProduct]] =
          if (p == 3) healthy.fetchPage(2)
          else if (p > 3) healthy.fetchPage(p - 1)
          else healthy.fetchPage(p)
      }
      freshTable("adv_t3")
      UpcSkuLoad.runPaged(spark, dup, url, "adv_t3")
      assert(snapshot("adv_t3") == want, "duplicate page delivery diverged")
    }

    // FAILURE 4 — out-of-order delivery (pages 2 and 3 swapped by a stale
    // retry): keyed upserts are order-insensitive across disjoint pages.
    locally {
      val swapped = new PagedSource {
        def fetchPage(p: Int): Option[Seq[RawProduct]] =
          if (p == 2) healthy.fetchPage(3)
          else if (p == 3) healthy.fetchPage(2)
          else healthy.fetchPage(p)
      }
      freshTable("adv_t4")
      UpcSkuLoad.runPaged(spark, swapped, url, "adv_t4")
      assert(snapshot("adv_t4") == want, "out-of-order delivery diverged")
    }

    // FAILURE 5 — shrunken page (truncated response body mid-stream): the
    // walk must NOT treat a short page as end-of-stream; the lost remainder
    // lands on the next incremental re-sync, which converges.
    locally {
      var truncate = true
      val shrink = new PagedSource {
        def fetchPage(p: Int): Option[Seq[RawProduct]] =
          if (p == 2 && truncate) healthy.fetchPage(2).map(_.take(10))
          else healthy.fetchPage(p)
      }
      freshTable("adv_t5")
      val n1 = UpcSkuLoad.runPaged(spark, shrink, url, "adv_t5")
      assert(n1 == 200 - 27, s"shrunken page should cost exactly its truncated rows, got $n1")
      assert(snapshot("adv_t5") != want, "truncation cannot be invisible in one walk")
      truncate = false
      UpcSkuLoad.runPaged(spark, shrink, url, "adv_t5")
      assert(snapshot("adv_t5") == want, "re-sync after shrunken page diverged")
    }
  }

  test("cap_etl_quarantine: every input row is either loaded or quarantined with its first failing reason") {
    import spark.implicits._
    val good = UpcSkuLoad.extract(spark, sf001)
    // plant one row per failure class on top of the clean extract
    val bad = Seq(
      ("12345", "short upc", "B", 1.0),               // bad_length
      ("123456789013", "wrong digit", "B", 1.0),      // bad_check_digit (true cd is 1 → 12 digits, cd+2)
      ("03600029145X", "non-digit", "B", 1.0),        // bad_check_digit via NULL weighted sum
      ("036000291452", "free stuff", "B", 0.0),       // bad_price (valid UPC, price 0)
      ("036000291452", "   ", "B", 9.99)              // empty_name (blank after trim)
    ).toDF("upc", "name", "brand", "price").withColumn("loaded_at", current_timestamp())
    // partkeys through identity synthesis: an 11-digit key is a valid body;
    // a 12-digit key has none (lpad would truncate it onto the 11-digit
    // key's UPC) and a negative one neither (its '-' is no digit) — both
    // get a null upc instead of a colliding UPC or a job-killing cast
    val partkeys = UpcSkuLoad.toProducts(Seq(
      (12345678901L, "eleven-digit partkey", "B", 1.0),
      (123456789012L, "twelve-digit partkey", "B", 1.0),
      (-7L, "negative partkey", "B", 1.0)
    ).toDF("partkey", "name", "brand", "price"))
    val (valid, quarantined) =
      UpcSkuLoad.validateWithQuarantine(good.unionByName(bad).unionByName(partkeys))
    // accounting: nothing vanishes
    assert(valid.count() + quarantined.count() == good.count() + 8)
    assert(valid.count() == good.count() + 1, "a planted bad row leaked into the valid set")
    assert(valid.filter(col("name") === "eleven-digit partkey").select("upc").as[String].collect().toSeq ==
      Seq("123456789012"))
    val reasons = quarantined
      .select("name", "reject_reason")
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
    assert(reasons == Map(
      "short upc" -> "bad_length",
      "wrong digit" -> "bad_check_digit",
      "non-digit" -> "bad_check_digit",
      "free stuff" -> "bad_price",
      "   " -> "empty_name",
      "twelve-digit partkey" -> "bad_length",
      "negative partkey" -> "bad_length"), s"got $reasons")
    // the quarantine frame is loadable like any other (side-table pattern)
    val qTable = "products_quarantine"
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.execute(s"DROP TABLE $qTable")
      catch { case _: java.sql.SQLException => () }
      // upc is CLOB: Spark's Derby dialect binds a null string as a CLOB
      // null, which a VARCHAR column rejects, and out-of-range partkeys
      // quarantine with a null upc
      st.execute(
        s"CREATE TABLE $qTable (upc CLOB, name VARCHAR(128), brand VARCHAR(32), price DOUBLE, loaded_at TIMESTAMP, reject_reason VARCHAR(32))")
      st.close()
    } finally c.close()
    quarantined.write.mode("append").jdbc(url, qTable, new java.util.Properties())
    assert(spark.read.jdbc(url, qTable, new java.util.Properties()).count() == 7)
  }

  test("check-digit kernel ≡ the try_cast digit-sum formula, interpreted and codegen'd") {
    import spark.implicits._
    import graft.functions.UpcCheckDigit
    val upc = "036000291452"
    val nonDigits = Seq(" ", "+", "-", "\uFF11", "\u00E9", "\u20AC", "\uD83D\uDE00") // full-width 1; 2-, 3- and 4-byte chars
    val corpus: Seq[String] =
      Seq(upc, upc.take(11), upc.take(5), "", upc + "9", upc + "\u00E9", null) ++
        (0 until 12).flatMap(i => nonDigits.map(c => upc.take(i) + c + upc.drop(i + 1)))
    val frame = corpus.toDF("s").repartition(2) // not a LocalRelation: no driver-side folding
    def tryCastSum(n: Int) =
      (1 to n)
        .map(i => expr(s"try_cast(substring(s, $i, 1) AS int)") * lit(if (i % 2 == 1) 3 else 1))
        .reduce(_ + _)
    val cols = Seq(
      tryCastSum(11), UpcCheckDigit.weightedSumCol(col("s"), 11),
      tryCastSum(12), UpcCheckDigit.weightedSumCol(col("s"), 12))
    // whole-stage codegen off, so the projection factory mode decides
    // between the interpreted and the generated evaluator
    val confs = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prior = confs.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) {
        spark.conf.set("spark.sql.codegen.factoryMode", mode)
        val rows = frame.select(col("s") +: cols: _*).collect()
        assert(rows.length == corpus.size)
        def opt(r: org.apache.spark.sql.Row, i: Int) = if (r.isNullAt(i)) None else Some(r.getInt(i))
        for (r <- rows) {
          assert(opt(r, 1) == opt(r, 2), s"$mode n=11 on ${r.getString(0)}")
          assert(opt(r, 3) == opt(r, 4), s"$mode n=12 on ${r.getString(0)}")
        }
        val byInput = rows.map(r => Option(r.getString(0)) -> opt(r, 4)).toMap
        assert(byInput(Some(upc)) == Some(60) && byInput(Some(upc + "9")) == Some(60), s"$mode: $byInput")
        assert(byInput(Some(upc.take(11))).isEmpty && byInput(None).isEmpty, s"$mode: $byInput")
        assert(rows.count(r => opt(r, 4).isEmpty) == corpus.size - 3, s"$mode: $byInput") // all but the three 12-digit prefixes
      }
    } finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("the batch load's optimized plan has no oversized expression") {
    // the inlined 12-term try_cast sum, substituted into the pushed-down
    // validate filter, made a 3,658-node condition whose whole-stage Java
    // took ~0.4 s to generate on every execution
    val plan = UpcSkuLoad.dedup(UpcSkuLoad.validate(UpcSkuLoad.extract(spark, sf001))).queryExecution.optimizedPlan
    val sizes = plan.collect { case node => node.expressions.map(_.collect { case e => e }.size) }.flatten
    assert(sizes.nonEmpty && sizes.max <= 500, s"largest expression: ${sizes.max} nodes")
  }

  test("validate→dedup→count stays inside whole-stage codegen (no 64KB interpreter fallback)") {
    // With fallback disabled a codegen compile failure THROWS instead of
    // silently running interpreted — so a green pass here proves the hot
    // path (check-digit kernel in the pushed-down validate filter, dedup,
    // aggregate) actually compiles. Historically the inlined 12-term
    // check-digit sum pushed this stage past the JVM 64 KB method limit;
    // the plan-shape guard above keeps the expression small.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val (valid, quarantined) = UpcSkuLoad.validateWithQuarantine(UpcSkuLoad.extract(spark, sf001))
      assert(valid.count() == 200 && quarantined.count() == 0)
      // the exact downstream shape that used to blow up: validate→dedup→agg
      assert(UpcSkuLoad.dedup(UpcSkuLoad.validate(UpcSkuLoad.extract(spark, sf001))).count() == 200)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }
}
