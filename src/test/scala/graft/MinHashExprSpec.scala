package graft

import graft.functions.MinHash
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The MinHash expressions (graft_token_hashes, graft_minhash_bands,
  * graft_intersect_size): bit-identical to the SQL formulation they
  * replaced on every evaluation path, the same near-duplicate rows as the
  * string-set verify, a pinned verify, and the spark.sql surface.
  */
class MinHashExprSpec extends SparkSuite {
  import spark.implicits._

  /** The sf0.001 bigram-shingled documents plus a planted variant of each
    * (minus its last two tokens, id + PlantShift). */
  private def planted(): DataFrame = {
    val toks = split(lower(col("text")), " ")
    val orig = Fixtures
      .table(spark, sf001, "documents")
      .select(col("doc_id").as("id"), toks.as("t"))
      .select(
        col("id"),
        expr(
          "filter(transform(sequence(0, greatest(size(t) - 2, 0)), i -> concat(t[i], ' ', t[i+1])), x -> x IS NOT NULL)")
          .as("toks"))
    val variant = orig.select(
      (col("id") + Fixtures.PlantShift).as("id"),
      expr("slice(toks, 1, greatest(size(toks) - 2, 1))").as("toks"))
    orig.unionByName(variant)
  }

  /** Edge documents: a null token, all-duplicate tokens, one token, an
    * empty array and a null array. The exchange keeps the optimizer from
    * folding the projection over a local relation. */
  private def edges(): DataFrame =
    Seq[(Long, Seq[String])](
      (-1L, Seq("a b", null, "c d")),
      (-2L, Seq("x", "x", "x")),
      (-3L, Seq("solo")),
      (-4L, Seq.empty),
      (-5L, null)).toDF("id", "toks").repartition(2)

  /** The banding this engine shipped before the expressions: explode the
    * tokens, take k partial-aggregated mins, `xxhash64` each band. */
  private def sqlBands(docs: DataFrame, bands: Int, rows: Int): DataFrame = {
    val k = bands * rows
    val aggs = (0 until k).map(i => min(xxhash64(lit(i), col("h"))).as(s"mh$i"))
    docs
      .select(col("id"), explode(col("toks")).as("tok"))
      .select(col("id"), xxhash64(col("tok")).as("h"))
      .groupBy("id")
      .agg(aggs.head, aggs.tail: _*)
      .select(
        col("id"),
        explode(array((0 until bands).map { j =>
          struct(lit(j).as("b"), xxhash64((0 until rows).map(r => col(s"mh${j * rows + r}")): _*).as("v"))
        }: _*)).as("band"))
      .select(col("id"), col("band.b").as("b"), col("band.v").as("v"))
  }

  /** The same banding rebuilt from [[MinHash.signature]]. */
  private def signatureBands(docs: DataFrame, bands: Int, rows: Int): DataFrame =
    docs
      .filter(size(col("toks")) > 0)
      .select(col("id"), MinHash.signature(col("toks"), bands * rows).as("mh"))
      .select(
        col("id"),
        posexplode(array((0 until bands).map { j =>
          xxhash64((0 until rows).map(r => col("mh").getItem(j * rows + r)): _*)
        }: _*)).as(Seq("b", "v")))

  private def bandSet(df: DataFrame): Set[(Long, Int, Long)] =
    df.select("id", "b", "v").as[(Long, Int, Long)].collect().toSet

  /** `body` under whole-stage codegen, then with whole-stage codegen off
    * in the interpreted and the generated projection factory modes. */
  private def onEveryPath(body: String => Unit): Unit = {
    body("whole-stage")
    val confs = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prior = confs.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) {
        spark.conf.set("spark.sql.codegen.factoryMode", mode)
        body(mode)
      }
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("graft_minhash_bands equals the explode/groupBy banding and MinHash.signature on every path") {
    val docs = planted().unionByName(edges())
    for ((bands, rows) <- Seq((6, 3), (4, 5), (1, 1))) {
      val expected = bandSet(sqlBands(docs, bands, rows))
      assert(expected.size > 100 * bands, s"corpus too small for $bands x $rows: ${expected.size}")
      assert(bandSet(signatureBands(docs, bands, rows)) == expected, s"signature banding $bands x $rows")
      onEveryPath { path =>
        val got = bandSet(MinHash.bandedSignatureRows(docs, bands, rows))
        assert(got == expected, s"$path $bands x $rows: ${got.diff(expected).take(3)} vs ${expected.diff(got).take(3)}")
      }
      // the edge documents: a null token hashes to the seed, duplicates
      // and a single token band like any other; empty and null arrays
      // give no rows
      val edgeIds = expected.collect { case (id, _, _) if id < 0 => id }
      assert(edgeIds == Set(-1L, -2L, -3L), s"edge documents banded: $edgeIds")
    }
  }

  test("graft_token_hashes is the sorted, distinct xxhash64 of the tokens") {
    onEveryPath { path =>
      val rows = edges()
        .select(
          col("id"),
          MinHash.tokenHashes(col("toks")).as("h"),
          array_sort(array_distinct(transform(col("toks"), t => xxhash64(t)))).as("ref"))
        .collect()
      assert(rows.length == 5)
      rows.foreach { r =>
        if (r.isNullAt(2)) assert(r.isNullAt(1), s"$path: null array ${r.getLong(0)}")
        else assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"$path: doc ${r.getLong(0)}")
      }
      val nullTok = rows.find(_.getLong(0) == -1L).get.getSeq[Long](1)
      assert(nullTok.contains(42L) && nullTok.size == 3, s"$path: null token must hash to the seed")
      assert(rows.find(_.getLong(0) == -2L).get.getSeq[Long](1).size == 1)
    }
  }

  test("graft_intersect_size equals size(array_intersect) on sorted, distinct arrays") {
    val rnd = new scala.util.Random(15)
    def sortedSet(n: Int, range: Int): Seq[Long] =
      Seq.fill(n)(rnd.nextInt(range).toLong - range / 2).distinct.sorted
    val random = (0 until 400).map { i =>
      (i.toLong, sortedSet(rnd.nextInt(60), 1 + rnd.nextInt(200)), sortedSet(rnd.nextInt(60), 1 + rnd.nextInt(200)))
    }
    val s = Seq(1L, 5L, Long.MaxValue)
    val special = Seq[(Long, Seq[Long], Seq[Long])](
      (1000L, Seq.empty, Seq.empty),
      (1001L, Seq.empty, s),
      (1002L, Seq(Long.MinValue, -3L, 0L), Seq(1L, 2L, 3L)), // disjoint
      (1003L, s, s), // identical
      (1004L, null, s),
      (1005L, s, null),
      (1006L, Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MinValue, Long.MaxValue)))
    val df = (random ++ special).toDF("i", "a", "b").repartition(2)
    onEveryPath { path =>
      val rows = df
        .select(
          col("i"),
          MinHash.intersectSize(col("a"), col("b")).as("got"),
          size(array_intersect(col("a"), col("b"))).as("ref"),
          col("a").isNull.or(col("b").isNull).as("anyNull"))
        .collect()
      assert(rows.length == random.size + special.size)
      rows.foreach { r =>
        if (r.getBoolean(3)) assert(r.isNullAt(1), s"$path: null array must give null (row ${r.getLong(0)})")
        else assert(r.getInt(1) == r.getInt(2), s"$path: row ${r.getLong(0)}")
      }
      val byId = rows.map(r => r.getLong(0) -> r).toMap
      assert(byId(1002L).getInt(1) == 0 && byId(1003L).getInt(1) == 3 && byId(1006L).getInt(1) == 2)
    }
  }

  /** The message of the error `df`'s collect raises, its causes included. */
  private def failure(df: DataFrame): String = {
    val e = intercept[Exception](df.collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).mkString(" <- ")
  }

  test("graft_intersect_size and graft_minhash_bands throw on malformed input") {
    val arrays = Seq[(Long, Seq[java.lang.Long], Seq[java.lang.Long])](
      (0L, Seq(3L, 1L, 2L), Seq(1L, 2L, 3L)), // unsorted, would count 1
      (1L, Seq(1L, 2L, 3L), Seq(1L, 2L, 2L)), // a repeat
      (2L, Seq(1L, 2L), Seq(9L, 1L, 2L)), // disorder in the tail the merge never reaches
      (3L, Seq(1L, null, 3L), Seq(1L, 2L, 3L)), // a null element
      (4L, Seq(1L, 2L, 3L), Seq(1L, 2L, 3L))).toDF("i", "a", "b").repartition(2)
    onEveryPath { path =>
      for ((i, why) <- Seq(0L -> "not sorted", 1L -> "not sorted", 2L -> "not sorted", 3L -> "null element")) {
        val msg = failure(arrays.filter(col("i") === i).select(MinHash.intersectSize(col("a"), col("b"))))
        assert(msg.contains("graft_intersect_size") && msg.contains(why), s"$path, row $i: $msg")
      }
      val ok = arrays.filter(col("i") === 4L).select(MinHash.intersectSize(col("a"), col("b"))).head()
      assert(ok.getInt(0) == 3, path)
      val msg = failure(arrays.filter(col("i") === 3L).select(MinHash.bandValues(col("a"), 6, 3)))
      assert(msg.contains("graft_minhash_bands") && msg.contains("null element"), s"$path: $msg")
    }
    // the literal case the SQL surface folds at planning time
    val s2 = SparkSuite.sessionWithExtensions(new GraftExtensions()(_))
    val msg = failure(s2.sql("SELECT graft_intersect_size(array(3L, 1L, 2L), array(1L, 2L, 3L))"))
    assert(msg.contains("not sorted"), msg)
  }

  /** The near-duplicate pairs of the string-set formulation: the SQL
    * banding, a broadcast hot-bucket anti-join and the
    * `size(array_intersect(...))` verify over the distinct token strings. */
  private def stringSetPairs(docs: DataFrame, minJaccard: Double, maxBucket: Int): DataFrame = {
    val base = docs.filter(size(col("toks")) > 0)
    val all = sqlBands(base, 6, 3)
    val hot = all.groupBy("b", "v").agg(count(lit(1)).as("n")).filter(col("n") > maxBucket).select("b", "v")
    val banded = if (maxBucket <= 0) all else all.join(broadcast(hot), Seq("b", "v"), "left_anti")
    val cand = banded
      .select(col("id").as("a_id"), col("b"), col("v"))
      .join(banded.select(col("id").as("b_id"), col("b"), col("v")), Seq("b", "v"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
    val sets = base.select(col("id"), array_distinct(col("toks")).as("toks"))
    cand
      .join(sets.select(col("id").as("a_id"), col("toks").as("a_toks")), "a_id")
      .join(sets.select(col("id").as("b_id"), col("toks").as("b_toks")), "b_id")
      .withColumn("inter", size(array_intersect(col("a_toks"), col("b_toks"))))
      .withColumn("jacc", col("inter").cast("double") / (size(col("a_toks")) + size(col("b_toks")) - col("inter")))
      .filter(col("jacc") >= minJaccard)
      .select(col("a_id"), col("b_id"), floor(col("jacc") * 1e6 + lit(0.5)).cast("long").as("jacc_e6"))
  }

  test("nearDuplicatePairs returns the string-set formulation's rows, hot-bucket guard on and off") {
    val docs = planted()
    for ((minJ, maxBucket) <- Seq((0.8, 64), (0.3, 3), (0.8, 0))) {
      val expected = stringSetPairs(docs, minJ, maxBucket).as[(Long, Long, Long)].collect().toSet
      val got = MinHash
        .nearDuplicatePairs(docs, "id", "toks", minJ, maxBucket = maxBucket)
        .as[(Long, Long, Long)]
        .collect()
        .toSet
      assert(expected.size >= 40, s"planted construction broken at J >= $minJ: ${expected.size}")
      assert(got == expected, s"J >= $minJ, maxBucket $maxBucket: ${got.diff(expected).take(3)} vs ${expected.diff(got).take(3)}")
    }
  }

  test("the verify's input exchange has an explicit partition count") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, AQEShuffleReadExec}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    val pairs = MinHash.nearDuplicatePairs(planted(), "id", "toks", 0.8)
    assert(pairs.count() > 0)
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    def keys(e: ShuffleExchangeExec): Seq[String] = e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
      case _ => Nil
    }
    val verifyIn = helper.collect(plan) { case e: ShuffleExchangeExec if keys(e) == Seq("a_id", "b_id") => e }
    assert(verifyIn.nonEmpty, s"no exchange on the candidate key in:\n$plan")
    val width = math.max(spark.sparkContext.defaultParallelism, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    verifyIn.foreach { e =>
      assert(e.shuffleOrigin == REPARTITION_BY_NUM, s"verify input is coalescable: ${e.shuffleOrigin}")
      assert(e.numPartitions == width)
    }
    val coalesced = helper.collect(plan) {
      case r: AQEShuffleReadExec if r.isCoalescedRead && r.child.collectFirst {
            case e: ShuffleExchangeExec if keys(e) == Seq("a_id", "b_id") => e
          }.nonEmpty => r
    }
    assert(coalesced.isEmpty, s"AQE coalesced the verify input:\n$plan")
  }

  test("graft_token_hashes, graft_minhash_bands and graft_intersect_size are callable from spark.sql") {
    val s2 = SparkSuite.sessionWithExtensions(new GraftExtensions()(_))
    // temp views are per session: the edge rows are rebuilt in s2
    s2.createDataFrame(spark.sparkContext.parallelize(edges().collect().toSeq), edges().schema)
      .createOrReplaceTempView("minhash_edges")
    val viaSql = s2
      .sql(
        """SELECT id, graft_minhash_bands(graft_token_hashes(toks), 6, 3) AS v,
          |       graft_intersect_size(graft_token_hashes(toks), graft_token_hashes(array('x', 'solo'))) AS i
          |FROM minhash_edges""".stripMargin)
      .collect()
      .map(r => r.getLong(0) -> r)
      .toMap
    val viaApi = edges()
      .select(col("id"), MinHash.bandValues(MinHash.tokenHashes(col("toks")), 6, 3).as("v"))
      .collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Long](1)))
      .toMap
    assert(viaSql.keySet == viaApi.keySet)
    viaSql.foreach { case (id, r: Row) =>
      assert(Option(r.getSeq[Long](1)) == viaApi(id), s"doc $id")
    }
    assert(viaSql(-2L).getInt(2) == 1 && viaSql(-3L).getInt(2) == 1 && viaSql(-1L).getInt(2) == 0)
    assert(viaSql(-4L).getSeq[Long](1).isEmpty && viaSql(-5L).isNullAt(1))
    assert(s2.sql("SELECT graft_intersect_size(array(1L, 2L, 3L), array(2L, 3L, 4L))").head().getInt(0) == 2)
  }
}
