package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** cap_scan_csv + cap_agg_approx (SURVEY.md §2.A / §2.D). */
class CapabilitiesSpec extends SparkSuite {

  test("cap_scan_csv: declared-schema CSV round-trip preserves rows and types") {
    val src = Fixtures
      .table(spark, sf001, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
      .limit(200)
    val dir = Files.createTempDirectory("graft-csv").toString + "/li"
    src.write.option("header", "true").csv(dir)
    val back = spark.read
      .schema(src.schema)
      .option("header", "true")
      .csv(dir)
    assert(back.schema == src.schema)
    val a = src.orderBy("l_orderkey", "l_linenumber").collect().toSeq
    val b = back.orderBy("l_orderkey", "l_linenumber").collect().toSeq
    assert(a == b)
  }

  test("cap_scan_orc: ORC round-trip preserves rows, types, and predicate pushdown") {
    val src = Fixtures
      .table(spark, sf001, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .limit(300)
    val dir = Files.createTempDirectory("graft-orc").toString + "/ord"
    src.write.orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == src.schema)
    val a = src.orderBy("o_orderkey").collect().toSeq
    val b = back.orderBy("o_orderkey").collect().toSeq
    assert(a == b)
    // predicate reaches the ORC scan (pushed filters visible in the plan)
    val plan = back.filter(col("o_totalprice") > 1000.0).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"),
      s"no pushed filter in ORC scan plan:\n$plan")
  }

  test("cap_scan_mergeschema: parquet schema evolution — widened batch merges with the old layout") {
    // An ingestion directory accumulates batches whose schema grows over
    // time; mergeSchema reads them as one table with nulls where the old
    // batches lack the new column. The shape a long-lived 100-TB ingest
    // path must support without rewriting history.
    val dir = Files.createTempDirectory("graft-evolve").toString + "/docs"
    val v1 = Fixtures.table(spark, sf001, "documents")
      .select(col("doc_id"), col("lang")).filter(col("doc_id") < 100)
    val v2 = Fixtures.table(spark, sf001, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars")).filter(col("doc_id") >= 100 && col("doc_id") < 200)
    v1.write.parquet(dir + "/batch=1")
    v2.write.parquet(dir + "/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("doc_id", "lang", "n_chars", "batch"))
    assert(merged.count() == 200)
    // old rows surface the new column as null; new rows carry real values
    assert(merged.filter(col("batch") === 1 && col("n_chars").isNotNull).count() == 0)
    assert(merged.filter(col("batch") === 2 && col("n_chars").isNull).count() == 0)
  }

  test("cap_agg_approx: HLL++ distinct and approx percentile within bounds") {
    val li = Fixtures.table(spark, sf001, "lineitem")
    val exactDistinct =
      li.select(countDistinct("l_partkey")).head().getLong(0).toDouble
    val approxDistinct =
      li.select(approx_count_distinct("l_partkey")).head().getLong(0).toDouble
    assert(math.abs(approxDistinct - exactDistinct) / exactDistinct < 0.05,
      s"HLL off by >5%: exact=$exactDistinct approx=$approxDistinct")

    val exactMedian = li
      .select(expr("percentile(l_extendedprice, 0.5)"))
      .head()
      .getDouble(0)
    val approxMedian = li
      .select(percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)))
      .head()
      .getDouble(0)
    assert(math.abs(approxMedian - exactMedian) / exactMedian < 0.01,
      s"approx median off by >1%: exact=$exactMedian approx=$approxMedian")
  }

  test("cap_scan_jsonl: JSON-lines read with declared schema round-trips rows and types") {
    val src = Fixtures
      .table(spark, sf001, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .limit(150)
    val dir = Files.createTempDirectory("graft-jsonl").toString + "/o"
    src.write.json(dir)
    val back = spark.read.schema(src.schema).json(dir)
    assert(back.schema == src.schema)
    assert(back.orderBy("o_orderkey").collect().toSeq == src.orderBy("o_orderkey").collect().toSeq)
  }

  test("cap_scan_badrecords: PERMISSIVE captures corrupt rows, FAILFAST rejects the file") {
    // The reference's ingestion reality: malformed records in the feed. A
    // loader must quarantine them (PERMISSIVE + _corrupt_record), and a
    // strict validation pass must fail loudly (FAILFAST).
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-bad").toString
    val f = new java.io.PrintWriter(s"$dir/feed.json")
    f.println("""{"upc": 1, "price": 9.99}""")
    f.println("""{"upc": "not-a-number", "price": }""") // malformed JSON
    f.println("""{"upc": 3, "price": 29.99}""")
    f.close()
    val schema = StructType(Seq(
      StructField("upc", LongType),
      StructField("price", DoubleType),
      StructField("_corrupt_record", StringType)))
    val permissive = spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(s"$dir/feed.json")
      .cache()
    assert(permissive.count() == 3)
    assert(permissive.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(permissive.filter(col("upc").isNotNull).count() == 2)
    val strict = spark.read
      .schema(StructType(schema.dropRight(1)))
      .option("mode", "FAILFAST")
      .json(s"$dir/feed.json")
    intercept[org.apache.spark.SparkException](strict.collect())
  }

  test("cap_agg_sketch: mergeable HLL sketches — union of per-slice sketches estimates the global distinct") {
    // The 100-TB pattern: build sketches per partition/day, store them, merge
    // on demand — never re-scan. Datasketches HLL is built into Spark 4.
    val li = Fixtures.table(spark, sf001, "lineitem")
    val exact = li.select(countDistinct("l_partkey")).head().getLong(0).toDouble
    val halves = li.withColumn("half", pmod(col("l_orderkey"), lit(2)))
    val perSlice = halves.groupBy("half").agg(hll_sketch_agg(col("l_partkey")).as("sk"))
    val merged = perSlice
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .head()
      .getLong(0)
      .toDouble
    assert(math.abs(merged - exact) / exact < 0.05, s"merged HLL off by >5%: exact=$exact est=$merged")
  }

  test("cap_partition_overwrite_dynamic: overwrite replaces ONLY the partitions present in the batch") {
    // the incremental backfill pattern: re-land one day/year without
    // touching the rest of the table. STATIC overwrite (the default) would
    // wipe every partition; dynamic mode scopes the overwrite to the
    // partitions the incoming frame actually contains.
    val dir = Files.createTempDirectory("graft-dynpart").toString + "/t"
    val orders = Fixtures
      .table(spark, sf001, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), year(col("o_orderdate")).as("yr"))
    orders.write.partitionBy("yr").mode("overwrite").parquet(dir)
    val total = spark.read.parquet(dir).count()
    val years = spark.read.parquet(dir).select("yr").distinct().count()
    assert(years > 2, s"fixture spans only $years years — test needs several partitions")
    // re-land ONE year with doubled prices under dynamic overwrite
    val oneYear = orders.filter(col("yr") === 1995).withColumn("o_totalprice", col("o_totalprice") * 2)
    oneYear.write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("yr")
      .mode("overwrite")
      .parquet(dir)
    val after = spark.read.parquet(dir)
    assert(after.count() == total, "dynamic overwrite changed row counts outside the landed partition")
    // the landed partition carries the new payload, others are untouched
    val sumOld = orders.filter(col("yr") =!= 1995).agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)))).head().getLong(0)
    val sumNew1995 = oneYear.agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)))).head().getLong(0)
    assert(after.filter(col("yr") =!= 1995).agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)))).head().getLong(0) == sumOld)
    assert(after.filter(col("yr") === 1995).agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)))).head().getLong(0) == sumNew1995)
  }

  test("cap_cache_reuse: a cached intermediate serves downstream queries from memory, same answers") {
    // the interactive-analytics pattern: one expensive intermediate, many
    // downstream aggregations. After .cache(), every consumer must read
    // InMemoryTableScan (no parquet re-scan) and answers must not change.
    val base = Fixtures
      .table(spark, sf001, "lineitem")
      .filter(col("l_quantity") > 10)
      .select("l_orderkey", "l_returnflag", "l_quantity")
    val uncached = (
      base.groupBy("l_returnflag").agg(count(lit(1))).collect().toSeq,
      base.agg(sum(col("l_quantity").cast("long"))).head().getLong(0))
    base.cache()
    try {
      base.count() // materialize
      val agg1 = base.groupBy("l_returnflag").agg(count(lit(1)))
      val agg2 = base.agg(sum(col("l_quantity").cast("long")))
      assert(agg1.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
        "downstream agg not served from cache")
      assert(agg2.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
      assert(agg1.collect().toSeq == uncached._1 && agg2.head().getLong(0) == uncached._2,
        "cached answers diverge")
    } finally base.unpersist()
  }

  test("cap_agg_freqitems: Misra-Gries heavy hitters surface a planted hot key, few false negatives by design") {
    import spark.implicits._
    // 60% of rows share key 7; the rest spread over 1000 keys (each ≪ the
    // 10% support threshold). freqItems is the single-pass mergeable
    // summary for "what dominates this column" — the cheap precursor to
    // the exact skew handling in q_agg_salted/q_join_salted.
    val df = (0 until 20000)
      .map(i => if (i % 5 < 3) 7L else (i % 1000) + 100L)
      .toDF("k")
    val freq = df.stat.freqItems(Seq("k"), 0.1).head().getSeq[Long](0)
    assert(freq.contains(7L), s"hot key missing from $freq")
    // soundness within the sketch's contract: nothing below support/2 that
    // isn't explainable as a Misra-Gries false positive survivor — the
    // result set stays small (≤ 1/support = 10 entries)
    assert(freq.size <= 10, s"freqItems returned ${freq.size} entries: $freq")
  }

  test("cap_sink_compact: range-clustered compaction yields N files with disjoint key ranges") {
    val src = Fixtures
      .table(spark, sf001, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .repartition(37) // simulate the many-small-files state
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    graft.sinks.ParquetLayout.compactRangeClustered(src, "o_orderkey", 4, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4, s"expected 4 files, got ${files.length}")
    // data intact
    val back = spark.read.parquet(dir)
    assert(back.count() == src.count())
    assert(back.agg(sum("o_orderkey")).head().getLong(0) == src.agg(sum("o_orderkey")).head().getLong(0))
    // disjoint per-file key ranges → footer min/max can skip files
    val ranges = files.toSeq.map { f =>
      val r = spark.read.parquet(f.getPath).agg(min("o_orderkey"), max("o_orderkey")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo, s"overlapping file ranges: $ranges")
      case _                     =>
    }
  }

  test("cap_sink_zorder: multi-column z-order gives every clustered column per-file locality") {
    import spark.implicits._
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    // two INDEPENDENT uniform keys — the case single-key clustering can't serve
    val src = (0L until 20000L)
      .map(i => (i, math.floorMod(mix(i), 1024L), math.floorMod(mix(i * 7 + 3), 1024L)))
      .toDF("id", "x", "y")
    def perFileSpan(dir: String, c: String): Seq[Double] =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
        val r = spark.read.parquet(f.getPath).agg(min(col(c)), max(col(c))).head()
        (r.getLong(1) - r.getLong(0)).toDouble / 1023.0
      }
    val zdir = Files.createTempDirectory("graft-zorder").toString + "/t"
    graft.sinks.ParquetLayout.compactZOrdered(src, Seq("x", "y"), 16, zdir)
    assert(spark.read.parquet(zdir).count() == 20000L)
    val zx = perFileSpan(zdir, "x")
    val zy = perFileSpan(zdir, "y")
    // 16 z-range files over a 64×64 Morton grid ≈ quadrant cells: BOTH
    // columns span ~1/4 of their range per file → min/max skipping works
    // for predicates on either column
    assert(zx.sum / zx.size <= 0.5, s"x spans per file: $zx")
    assert(zy.sum / zy.size <= 0.5, s"y spans per file: $zy")
    // contrast: single-key range clustering on x leaves y unclustered
    val rdir = Files.createTempDirectory("graft-zorder-r").toString + "/t"
    graft.sinks.ParquetLayout.compactRangeClustered(src, "x", 16, rdir)
    val ry = perFileSpan(rdir, "y")
    assert(ry.sum / ry.size >= 0.8, s"unexpected y locality under x-only clustering: $ry")
    // null keys must not crash the z-value UDF (they sort to bucket 0,
    // matching repartitionByRange's nulls-first single-key behavior)
    val withNulls = src.withColumn("x", when(col("id") % 100 === 0, lit(null)).otherwise(col("x")))
    val ndir = Files.createTempDirectory("graft-zorder-n").toString + "/t"
    graft.sinks.ParquetLayout.compactZOrdered(withNulls, Seq("x", "y"), 4, ndir)
    assert(spark.read.parquet(ndir).count() == 20000L)
  }

  test("cap_extensions: a session built with GraftExtensions has the function and strategy installed") {
    val s2 = SparkSuite.sessionWithExtensions(new GraftExtensions()(_))
    // function registry: graft_cosine resolves in spark.sql
    val cos = s2
      .sql("SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c")
      .head()
      .getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    // planner: the as-of strategy plans AsOfJoin nodes without runtime injection
    import s2.implicits._
    val p = Seq((1L, 10L, 100L)).toDF("p_id", "user_id", "p_ts")
      .select(col("p_id"), col("user_id"), timestamp_micros(col("p_ts")).as("p_ts"))
    val v = Seq((21L, 10L, 90L)).toDF("v_id", "v_user_id", "v_ts")
      .select(col("v_id"), col("v_user_id"), timestamp_micros(col("v_ts")).as("v_ts"))
    val joined = org.apache.spark.sql.GraftSqlBridge.ofRows(
      s2,
      graft.plans.AsOfJoin(
        p.queryExecution.analyzed,
        v.queryExecution.analyzed,
        p.queryExecution.analyzed.output(1),
        v.queryExecution.analyzed.output(1),
        p.queryExecution.analyzed.output(2),
        v.queryExecution.analyzed.output(2),
        v.queryExecution.analyzed.output(0)))
    val row = joined.select("p_id", "v_id").head()
    assert(row.getLong(0) == 1L && row.getLong(1) == 21L)
    // planner: catalog row-level DML routes with NO runtime injection
    val wh = Files.createTempDirectory("graft-ext-wh").toString
    s2.conf.set("spark.sql.catalog.gext", classOf[graft.sinks.GraftCatalog].getName)
    s2.conf.set("spark.sql.catalog.gext.warehouse", wh)
    graft.sinks.SnapshotTable.create(s2, wh + "/ns/t", s2.range(10).selectExpr("id AS k"))
    s2.sql("DELETE FROM gext.ns.t WHERE k >= 5")
    assert(s2.sql("SELECT count(*) AS n FROM gext.ns.t").head.getLong(0) == 5L)
  }

  test("builtin statistical aggregates agree with the closed-form oracle query") {
    // q_agg_stats computes stats from exact integer sums; the builtin
    // streaming-moment aggregates must agree to high relative precision.
    val li = Fixtures.table(spark, sf001, "lineitem")
    val builtin = li
      .agg(
        stddev_samp(col("l_quantity")),
        var_samp(col("l_quantity")),
        corr(col("l_quantity"), col("l_extendedprice")))
      .head()
    val n = li.count().toDouble
    val (sx, sxx, sy, sxy) = {
      val r = li
        .agg(
          sum(col("l_quantity")),
          sum(col("l_quantity") * col("l_quantity")),
          sum(col("l_extendedprice")),
          sum(col("l_quantity") * col("l_extendedprice")))
        .head()
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    }
    val varClosed = (n * sxx - sx * sx) / (n * (n - 1))
    assert(math.abs(builtin.getDouble(1) - varClosed) / varClosed < 1e-9)
    assert(math.abs(builtin.getDouble(0) - math.sqrt(varClosed)) / math.sqrt(varClosed) < 1e-9)
    val syy = li.agg(sum(col("l_extendedprice") * col("l_extendedprice"))).head().getDouble(0)
    val corrClosed =
      (n * sxy - sx * sy) / (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    assert(math.abs(builtin.getDouble(2) - corrClosed) < 1e-6)
  }

  test("cap_decimal_money: DecimalType(12,2) money arithmetic is exact and survives a JDBC round-trip") {
    // SURVEY §1.2: the fixtures use doubles to match the oracle, but the
    // at-scale money column is DecimalType(12,2) — exact decimal arithmetic
    // (no binary-double drift) and a faithful DECIMAL round-trip through a
    // real JDBC database (Derby).
    // orderBy before limit: a bare limit(400) may pick different rows per
    // JOB (map-task arrival order), and this frame feeds four separate jobs
    // whose results are compared against each other.
    val li = Fixtures
      .table(spark, sf001, "lineitem")
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_extendedprice").cast("decimal(12,2)").as("price"),
        col("l_discount").cast("decimal(12,2)").as("disc"))
      .orderBy("l_orderkey", "l_linenumber")
      .limit(400)
    // 0.1 + 0.2 class check: summing cent-precision decimals is exact.
    // Spark widens sum(decimal(12,2)) to decimal(22,2); the scale stays 2.
    val total = li.agg(sum(col("price")).as("t")).head().getDecimal(0)
    assert(total.scale == 2, s"sum scale drifted to ${total.scale}")
    // the decimal sum in cents equals the exact integer cent sum
    val exactCents = li
      .agg(sum((col("price") * 100).cast("long")).as("c"))
      .head()
      .getLong(0)
    assert(total.movePointRight(2).longValueExact() == exactCents, "decimal sum is not exact in cents")
    // discounted = price * (1 - disc): decimal multiply, rescaled to (12,2)
    val priced = li.withColumn(
      "discounted",
      (col("price") * (lit(java.math.BigDecimal.ONE).cast("decimal(12,2)") - col("disc")))
        .cast("decimal(12,2)"))
    val url = "jdbc:derby:memory:graftdecimal;create=true"
    val table = "money_rt"
    priced
      .select("l_orderkey", "l_linenumber", "price", "disc", "discounted")
      .write
      .mode("overwrite")
      .jdbc(url, table, new java.util.Properties())
    val back = spark.read.jdbc(url, table, new java.util.Properties())
    // Derby stores DECIMAL(12,2) natively; values and scales must match 1:1
    val a = priced
      .select(col("l_orderkey"), col("l_linenumber"), col("price"), col("discounted"))
      .orderBy("l_orderkey", "l_linenumber")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDecimal(2), r.getDecimal(3)))
    val b = back
      .select(col("L_ORDERKEY"), col("L_LINENUMBER"), col("PRICE"), col("DISCOUNTED"))
      .orderBy("L_ORDERKEY", "L_LINENUMBER")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDecimal(2), r.getDecimal(3)))
    assert(a.length == b.length && a.length == 400)
    a.zip(b).foreach { case ((ka, la, pa, da), (kb, lb, pb, db)) =>
      assert(ka == kb && la == lb)
      assert(pa.compareTo(pb) == 0 && pa.scale == 2 && pb.scale == 2, s"price drifted: $pa vs $pb")
      assert(da.compareTo(db) == 0, s"discounted drifted: $da vs $db")
    }
  }

  test("cap_observe: Observation metrics ride the action — no second pass over the data") {
    // The pipeline-counter pattern: a loader wants row counts / sums for its
    // run report WITHOUT re-scanning the input. observe() attaches named
    // aggregates to the plan; they accumulate DURING the action (here: a
    // count of a filtered subset) and are read afterwards from the driver.
    // The metrics cover the FULL observed frame even though the action only
    // consumed the filtered rows — proving they rode the same scan.
    val obs = org.apache.spark.sql.Observation("load_stats")
    val orders = Fixtures.table(spark, sf001, "orders")
    val observed = orders.observe(
      obs,
      count(lit(1)).as("n_rows"),
      sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")).as("spend_c"))
    val nFinal = observed.filter(col("o_orderstatus") === "F").count()
    val m = obs.get
    val expectedN = orders.count()
    val expectedSpend = orders
      .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")))
      .head()
      .getLong(0)
    assert(nFinal > 0 && nFinal < expectedN, "filter should consume a strict subset")
    assert(m("n_rows") == expectedN, s"observed ${m("n_rows")} rows, expected $expectedN")
    assert(m("spend_c") == expectedSpend, s"observed spend ${m("spend_c")}, expected $expectedSpend")
  }
}
