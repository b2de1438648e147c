package graft

import java.nio.file.{Files, Paths}

import graft.sinks.SnapshotTable
import graft.sinks.SnapshotTable.FileStat
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The per-file stats a snapshot write records (row count; min, max and
  * non-null count per orderable column; bloom per equality column; bytes)
  * and its CHECK verdicts are byte-identical, as published JSON, to a
  * planned aggregate over the written files: one
  * `groupBy(input_file_name())` with min/max/count per column,
  * `bitmap_construct_agg` over the bloom probe positions and one
  * conditional sum per CHECK, plus a listing for byte sizes and zero-row
  * files. That aggregate is the oracle; it shares no code with the
  * writer's fold. */
class FileStatsSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String = Files.createTempDirectory("graft-filestats").toString

  // ── the oracle ──

  private def statable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType | StringType | DateType |
        TimestampType | TimestampNTZType | BooleanType | _: DecimalType =>
      true
    case _ => false
  }
  private def bloomable(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType | DateType => true
    case _ => false
  }

  private def statJson(dt: DataType, v: Any): Option[JValue] =
    if (v == null) None
    else
      dt match {
        case ByteType | ShortType | IntegerType | LongType => Some(JLong(v.asInstanceOf[Number].longValue()))
        case FloatType | DoubleType =>
          val d = v.asInstanceOf[Number].doubleValue()
          if (java.lang.Double.isFinite(d)) Some(JDouble(d)) else None
        case _: DecimalType => Some(JDecimal(BigDecimal(v.asInstanceOf[java.math.BigDecimal])))
        case StringType =>
          val s = v.asInstanceOf[String]
          if (s.length <= 64) Some(JString(s)) else None
        case DateType => Some(JString(v.toString))
        case TimestampType =>
          val t = v.asInstanceOf[java.sql.Timestamp]
          Some(JLong(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000))
        case TimestampNTZType =>
          val t = v.asInstanceOf[java.time.LocalDateTime]
          Some(JLong(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000))
        case BooleanType => Some(JLong(if (v.asInstanceOf[Boolean]) 1L else 0L))
        case _ => None
      }

  /** The 4 probe positions of a column's values: murmur3 and xxhash64
    * (seed 42) double hashing over m = 4096 bits, as Column arithmetic. */
  private def bloomPosCols(c: Column): Seq[Column] = {
    val m = lit(4096L)
    val h1 = pmod(hash(c).cast("long"), m)
    val h2 = pmod(xxhash64(c), m) * 2 + 1
    (0 until 4).map(i => when(c.isNotNull, pmod(h1 + lit(i.toLong) * h2, m).cast("int")))
  }

  /** The stats and per-CHECK violation sums of the written dir `rel`
    * (physical column names; CHECKs in logical names, aliased from
    * `physicalOf`). */
  private def oracle(
      root: String,
      rel: String,
      constraints: Map[String, String],
      physicalOf: Map[String, String]): (Seq[FileStat], Seq[Long]) = {
    val abs = new Path(root, rel).toString
    val written = spark.read.parquet(abs)
    val statFields = written.schema.fields.filter(f => statable(f.dataType)).toSeq
    val bloomFields = written.schema.fields.filter(f => bloomable(f.dataType)).toSeq
    def q(n: String) = col("`" + n + "`")
    val aggInput = physicalOf.foldLeft(written) { case (d, (logical, physical)) =>
      if (d.columns.contains(physical)) d.withColumn(logical, q(physical)) else d
    }
    val checks = constraints.toSeq.sortBy(_._1)
    val aggs = count(lit(1)).as("__rows") +:
      (statFields.flatMap(f =>
        Seq(
          min(q(f.name)).as("__min_" + f.name),
          max(q(f.name)).as("__max_" + f.name),
          count(q(f.name)).as("__nn_" + f.name))) ++
        bloomFields.flatMap(f =>
          bloomPosCols(q(f.name)).zipWithIndex.map { case (pc, i) =>
            bitmap_construct_agg(pc.cast("long")).as(s"__bl${i}_" + f.name)
          }) ++
        checks.zipWithIndex.map { case ((_, check), i) =>
          sum(when(!coalesce(expr(check), lit(false)), 1L).otherwise(0L)).as(s"__ck$i")
        })
    val perFile = aggInput.groupBy(input_file_name().as("__file")).agg(aggs.head, aggs.tail: _*).collect().toSeq
    val violations = checks.indices.map(i => perFile.map(_.getAs[Long](s"__ck$i")).sum)
    val stats = perFile.map { r =>
      val uri = r.getAs[String]("__file")
      val path = uri.substring(uri.indexOf(rel))
      val pairs = statFields.flatMap { f =>
        for {
          mi <- statJson(f.dataType, r.getAs[Any]("__min_" + f.name))
          ma <- statJson(f.dataType, r.getAs[Any]("__max_" + f.name))
        } yield (f.name, mi, ma)
      }
      val blooms = bloomFields.map { f =>
        val bytes = new Array[Byte](512)
        (0 until 4).foreach { i =>
          Option(r.getAs[Array[Byte]](s"__bl${i}_" + f.name)).foreach { b =>
            (0 until math.min(512, b.length)).foreach(j => bytes(j) = (bytes(j) | b(j)).toByte)
          }
        }
        f.name -> java.util.Base64.getEncoder.encodeToString(bytes)
      }
      FileStat(
        path, r.getAs[Long]("__rows"), pairs.map(p => p._1 -> p._2).toMap, pairs.map(p => p._1 -> p._3).toMap,
        statFields.map(f => f.name -> r.getAs[Long]("__nn_" + f.name)).toMap, blooms.toMap)
    }
    val local = new java.io.File(abs)
    val sizes = local.listFiles().toSeq
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => s"$rel/${f.getName}" -> f.length()).toMap
    val statted = stats.map(_.path).toSet
    val empties = sizes.keys.toSeq.filterNot(statted).map(p => FileStat(p, 0L, Map.empty, Map.empty, bytes = sizes(p)))
    (stats.map(s => s.copy(bytes = sizes(s.path))) ++ empties, violations)
  }

  /** A file stat as the manifest publishes it. */
  private def published(f: FileStat): String = compact(render(JObject(
    "path" -> JString(f.path),
    "rows" -> JLong(f.rows),
    "min" -> JObject(f.min.toList.sortBy(_._1)),
    "max" -> JObject(f.max.toList.sortBy(_._1)),
    "nn" -> JObject(f.nonNull.toList.sortBy(_._1).map { case (k, v) => k -> (JLong(v): JValue) }),
    "bloom" -> JObject(f.bloom.toList.sortBy(_._1).map { case (k, v) => k -> (JString(v): JValue) }),
    "bytes" -> JLong(f.bytes))))

  /** The `files` entries of manifest `v`, as published text (no JSON
    * parse: a parse would fold -0.0 into 0.0 or round a 38-digit
    * decimal). */
  private def publishedFiles(root: String, v: Int): Seq[String] = {
    val txt = new String(Files.readAllBytes(Paths.get(root, "_manifests", f"v$v%08d.json")), "UTF-8")
    val start = txt.indexOf("\"files\":[") + "\"files\":[".length
    val out = Seq.newBuilder[String]
    var (depth, inStr, esc, from, i) = (0, false, false, start, start)
    while (depth >= 0) {
      val c = txt.charAt(i)
      if (inStr) { if (esc) esc = false else if (c == '\\') esc = true else if (c == '"') inStr = false }
      else c match {
        case '"' => inStr = true
        case '{' | '[' => if (depth == 0) from = i; depth += 1
        case '}' | ']' =>
          depth -= 1
          if (depth == 0) out += txt.substring(from, i + 1)
        case _ =>
      }
      i += 1
    }
    out.result()
  }

  /** Run `op` (one commit that writes new data dirs) and check the stats
    * it published for every new dir against the oracle over that dir. */
  private def matchesOracle(root: String)(op: => Any): Seq[FileStat] = {
    val before = SnapshotTable.latestVersion(spark, root).fold(Set.empty[String])(v =>
      SnapshotTable.readManifest(spark, root, v).files.map(f => f.path.take(f.path.lastIndexOf('/'))).toSet)
    op
    val v = SnapshotTable.latestVersion(spark, root).get
    val m = SnapshotTable.readManifest(spark, root, v)
    val newDirs = m.files.map(f => f.path.take(f.path.lastIndexOf('/'))).distinct.filterNot(before)
    assert(newDirs.nonEmpty, "the commit wrote no data dir")
    val mapping = m.schemaJson.map(SnapshotTable.schemaFromJson).toSeq.flatMap(_.fields)
      .collect { case f if SnapshotTable.physName(f) != f.name => f.name -> SnapshotTable.physName(f) }.toMap
    val expected = newDirs.flatMap(d => oracle(root, d, m.constraints, mapping)._1)
    val inDirs = (p: String) => newDirs.contains(p.take(p.lastIndexOf('/')))
    val actual = publishedFiles(root, v).filter(j => inDirs((parseJ(j) \ "path").asInstanceOf[JString].s))
    assert(actual.sorted == expected.map(published).sorted)
    expected
  }

  /** `df` with the rows of each value `p` of its first (int) column in
    * partition `p`: one written file per `p`. */
  private def oneFileEach(df: DataFrame, n: Int): DataFrame =
    spark.createDataFrame(
      df.rdd.keyBy(_.getInt(0)).partitionBy(new org.apache.spark.HashPartitioner(n)).values, df.schema)

  private def parseJ(s: String) = org.json4s.jackson.JsonMethods.parse(s)

  test("every statable type, nulls, all-null columns and an unstatable column match the oracle") {
    val root = freshRoot()
    val big = new java.math.BigDecimal("12345678901234567890.123456789012345678")
    val rows = (0 until 40).map { i =>
      val n = i % 9 == 4
      Row(
        if (n) null else (i - 20).toByte,
        if (n) null else (i * 300 - 6000).toShort,
        if (n) null else i * 1000003 - 20000000,
        if (n) null else i.toLong * 100000000007L - 2000000000000L,
        if (n) null else (i - 17.25f) / 3f,
        if (n) null else (i - 13.5) / 7.0,
        if (n) null else s"v${(i * 7919) % 97}",
        if (n) null else java.sql.Date.valueOf(java.time.LocalDate.of(1950, 1, 1).plusDays(i * 800L)),
        // pre-1970 instants with a fractional second: floorDiv matters
        if (n) null else java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(i * 86400L * 500 - 631152000L, 500000000L)),
        if (n) null else java.time.LocalDateTime.of(1960 + i, 2, 3, 4, 5, 6, 789000000),
        if (n) null else i % 3 == 0,
        if (n) null else big.add(java.math.BigDecimal.valueOf(i.toLong)).negate(),
        if (n) null else new java.math.BigDecimal(i * 13).movePointLeft(2),
        null,
        Array[Byte](i.toByte))
    }
    val schema = StructType(Seq(
      StructField("b", ByteType), StructField("sh", ShortType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("f", FloatType), StructField("d", DoubleType),
      StructField("s", StringType), StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType), StructField("bo", BooleanType),
      StructField("dec38", DecimalType(38, 18)), StructField("dec10", DecimalType(10, 2)),
      StructField("allnull", LongType), StructField("bin", BinaryType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val stats = matchesOracle(root)(SnapshotTable.create(spark, root, df))
    assert(stats.size == 3 && stats.map(_.rows).sum == 40)
    assert(stats.forall(f => f.nonNull("allnull") == 0 && !f.min.contains("allnull")))
    assert(stats.forall(f => f.bloom("allnull") == SnapshotTable.encodeBloom(Nil)), "an all-null bloom is all zero")
    assert(stats.forall(f => !f.nonNull.contains("bin") && !f.bloom.contains("bin")))
    assert(stats.exists(_.min.contains("dec38")) && stats.exists(_.min.contains("ntz")))
  }

  test("long and non-BMP strings: the 64-char cap and UTF-8 byte order match the oracle") {
    val root = freshRoot()
    val long = "z" * 65
    // U+FFFD sorts below U+1F600 in UTF-8 bytes but above its surrogates in UTF-16
    val files = Seq(
      Seq("�", "😀", "a"),
      Seq("😀x", "��", long),
      Seq(long, long + "y"),
      Seq("b", "b" * 64))
    val df = files.zipWithIndex.flatMap { case (vs, p) => vs.map(v => (p, v)) }.toDF("p", "s")
    val stats = matchesOracle(root)(SnapshotTable.create(spark, root, oneFileEach(df, files.size)))
    assert(stats.count(f => f.rows > 0 && !f.max.contains("s")) >= 1, "an overlong max drops the pair")
    assert(stats.exists(f => f.max.get("s").contains(JString("😀"))), "byte order puts U+1F600 last")
  }

  test("doubles: NaN, signed zeros and infinities match the oracle") {
    val root = freshRoot()
    val files = Seq(
      Seq(Double.NaN, 1.0, -2.5),
      Seq(-0.0, 0.0, 3.0),
      Seq(0.0, -0.0, -1.0),
      Seq(Double.NegativeInfinity, 5.0),
      Seq(Double.PositiveInfinity, Double.NaN),
      Seq(Double.NaN))
    val df = files.zipWithIndex.flatMap { case (vs, p) => vs.map(v => (p, v)) }.toDF("p", "d")
    val stats = matchesOracle(root)(SnapshotTable.create(spark, root, oneFileEach(df, files.size)))
    assert(stats.count(_.min.contains("d")) == 2, s"only the zero files keep a pair: $stats")
  }

  test("an empty partition 0 and an empty write record rows = 0 with empty maps") {
    val root = freshRoot()
    // partition 0 of range(0, 10, 1, 4) is [0, 2): filtered out, it still writes one file
    val stats = matchesOracle(root)(SnapshotTable.create(spark, root, spark.range(0, 10, 1, 4).toDF().filter("id >= 5")))
    assert(stats.exists(f => f.rows == 0 && f.min.isEmpty && f.nonNull.isEmpty && f.bloom.isEmpty && f.bytes > 0))
    val empty = matchesOracle(root)(SnapshotTable.append(spark, root, spark.range(0, 10, 1, 4).toDF().filter("id < 0")))
    assert(empty.map(_.rows) == Seq(0L))
  }

  test("renamed and dropped columns: stats keyed by physical names, CHECKs in logical ones") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, Seq((1L, 2.0, "a"), (2L, 3.0, "b")).toDF("k", "x", "s"))
    SnapshotTable.renameColumn(spark, root, "x", "y")
    SnapshotTable.dropColumn(spark, root, "s")
    SnapshotTable.addCheck(spark, root, "y_pos", "y > 0")
    val stats = matchesOracle(root)(SnapshotTable.append(spark, root, Seq((3L, 4.0), (4L, 5.0)).toDF("k", "y")))
    assert(stats.forall(f => f.min.contains("x") && !f.min.contains("y") && !f.min.contains("s")))
  }

  test("the merge key envelope from write stats is the aggregate's, or defers to it") {
    val root = freshRoot()
    val df = Seq(
      (0, Some(-5L), "😀", java.sql.Date.valueOf("1960-02-29"),
        java.sql.Timestamp.valueOf("1969-12-31 23:59:59.5"), BigDecimal("-1.25"), Option.empty[Long]),
      (0, Some(7L), "�", java.sql.Date.valueOf("2024-01-01"),
        java.sql.Timestamp.valueOf("2001-01-01 00:00:00.000001"), BigDecimal("3.50"), None),
      (1, None, "a", java.sql.Date.valueOf("1999-12-31"),
        java.sql.Timestamp.valueOf("1970-01-01 00:00:00"), BigDecimal("0.00"), None))
      .toDF("p", "k", "s", "d", "t", "m", "n")
      .withColumn("m", col("m").cast(DecimalType(10, 2)))
    SnapshotTable.create(spark, root, oneFileEach(df, 2))
    SnapshotTable.renameColumn(spark, root, "k", "key")
    val m = SnapshotTable.readManifest(spark, root, SnapshotTable.latestVersion(spark, root).get)
    val schema = SnapshotTable.schemaFromJson(m.schemaJson.get)
    val keys = Seq("key", "s", "d", "t", "m", "n")
    val env = SnapshotTable.statsEnvelope(schema, Map("key" -> "k"), m.files, keys)
      .getOrElse(fail("every key has complete stats"))
    val agg = df.withColumnRenamed("k", "key")
      .agg(min("key"), max("key"), min("s"), max("s"), min("d"), max("d"), min("t"), max("t"), min("m"), max("m"),
        min("n"), max("n"))
      .collect()(0).toSeq
    assert(env.flatMap(b => Seq(b.lower.orNull, b.upper.orNull)) == agg)
    val long = Seq((0, "x" * 65)).toDF("p", "s")
    val longRoot = freshRoot()
    SnapshotTable.create(spark, longRoot, long)
    val lm = SnapshotTable.readManifest(spark, longRoot, 1)
    assert(SnapshotTable.statsEnvelope(long.schema, Map.empty, lm.files, Seq("s")).isEmpty,
      "a string past the stat cap defers to the aggregate")
  }

  test("a CHECK violation (a null result included) aborts with the oracle's count and leaves no dir") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("k", "s"))
    SnapshotTable.addCheck(spark, root, "k_pos", "k > 0")
    SnapshotTable.addCheck(spark, root, "s_set", "s IS NOT NULL")
    val dirs = () => new java.io.File(root, "data").list().toSet
    val before = dirs()
    val bad = Seq((Some(5L), "ok"), (Some(-1L), "neg"), (None, "null k"), (Some(-7L), null)).toDF("k", "s")
    val e = intercept[SnapshotTable.ConstraintViolationException](SnapshotTable.append(spark, root, bad))
    assert(dirs() == before, "a violating write leaves no data dir")
    val scratch = Files.createTempDirectory("graft-filestats-oracle").toString
    bad.write.parquet(s"$scratch/data/x")
    val (_, violations) = oracle(scratch, "data/x", Map("k_pos" -> "k > 0", "s_set" -> "s IS NOT NULL"), Map.empty)
    assert(violations == Seq(3L, 1L))
    assert(e.name == "k_pos" && e.violations == violations.head)
  }

  test("CHECKs the optimizer rewrites (BETWEEN, nvl) bind into the fold: a passing write and a violating one") {
    val root = freshRoot()
    val checks = Map("k_range" -> "k BETWEEN 0 AND 10", "s_set" -> "nvl(s, '') <> ''")
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("k", "s"))
    checks.foreach { case (n, c) => SnapshotTable.addCheck(spark, root, n, c) }
    matchesOracle(root)(SnapshotTable.append(spark, root, Seq((0L, "b"), (10L, "c")).toDF("k", "s")))
    val dirs = () => new java.io.File(root, "data").list().toSet
    val before = dirs()
    val bad = Seq((Some(5L), "ok"), (Some(11L), "big"), (None, "null k"), (Some(3L), null), (Some(4L), ""))
      .toDF("k", "s")
    val e = intercept[SnapshotTable.ConstraintViolationException](SnapshotTable.append(spark, root, bad))
    assert(dirs() == before, "a violating write leaves no data dir")
    val scratch = Files.createTempDirectory("graft-filestats-oracle").toString
    bad.write.parquet(s"$scratch/data/x")
    val (_, violations) = oracle(scratch, "data/x", checks, Map.empty)
    assert(violations == Seq(2L, 2L))
    assert(e.name == "k_range" && e.violations == violations.head)
    val refused = intercept[IllegalArgumentException](SnapshotTable.addCheck(spark, root, "who", "current_user() <> ''"))
    assert(refused.getMessage.contains("cannot be evaluated row by row"))
  }
}
