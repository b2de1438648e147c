package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{AnnIndex, DedupIndex}
import graft.sinks.SnapshotTable

/** Decade-up scale study for the PERSISTED INDEX tier (SCALING.md): the
  * round-17 verdict asked for proof that DedupIndex batch-dedup and
  * AnnIndex search/refresh stay O(batch) — not O(corpus) — one decade
  * beyond the round-15 points (500k docs / 2M vectors). This main
  * measures matched PAIRS of corpus sizes under an identical generator
  * (so the comparison is distribution-clean, unlike reusing the round-15
  * numbers, which rode GenData's 31-word-vocab documents — too small a
  * shingle space to be honest at 5M docs):
  *
  *   runMain graft.MeasureIndexScale dedup <nDocs>   (e.g. 500000, 5000000)
  *   runMain graft.MeasureIndexScale ann <nVecs>     (e.g. 2000000, 10000000)
  *
  * Protocols mirror the round-15 studies exactly:
  *  - dedup: corpus = docs minus the last 25k; batch = those 25k (2% are
  *    planted near-dups of corpus docs). Timed: build(corpus) once, then
  *    checkBatch twice (warm pair). The batch is FIXED at 25k across
  *    corpus sizes — O(batch) predicts a flat warm checkBatch, with only
  *    the shuffle-free map-side postings scan growing in bytes.
  *  - ann: snapshot-table source corpus of 16-dim unit vectors,
  *    fitFromTable k=64/iters=3, then the round-15 arrival (+1% inserts,
  *    0.25% keyed delete) and a timed refresh, plus a timed full-refit
  *    warm pair for contrast and a 100-query/topK=10/nprobe=8 search
  *    warm pair. Refresh cost is CDC-delta-sized; refit is O(corpus).
  *
  * Generator determinism matches GenData: every draw is xxhash64-keyed,
  * bit-identical across partitionings and re-runs. Documents draw 20..80
  * tokens from a 10k-word vocabulary; every 50th doc is a near-copy of
  * its predecessor with ~10% of tokens dropped (Jaccard ≈ 0.8, above the
  * 0.7 check threshold). All tables land under target/scale (scratch).
  */
object MeasureIndexScale {
  private val Mod = 1000000000L

  private def u(salt: Int, cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
    pmod(xxhash64((cols :+ lit(salt)): _*), lit(Mod)).cast("double") / lit(Mod.toDouble)

  /** (doc_id, toks): 20..80 tokens from a 10k vocab; id % 50 == 0 docs
    * regenerate the token stream of the doc 25001 ids EARLIER minus a
    * random ~10% — a planted near-dup pair at Jaccard ≈ 0.8 whose seed
    * always falls in the CORPUS partition (ids below n − 25k), so the
    * batch's planted dups are genuine cross-index matches. */
  private def docs(spark: SparkSession, n: Long): DataFrame =
    spark
      .range(n)
      .select(col("id").as("doc_id"))
      .withColumn(
        "seed",
        when(col("doc_id") % 50 === 0 && col("doc_id") > 25000, col("doc_id") - 25001)
          .otherwise(col("doc_id")))
      .withColumn("len", (lit(20) + u(11, col("seed")) * 60).cast("int"))
      .withColumn(
        "toks",
        filter(
          transform(
            sequence(lit(0), col("len") - 1),
            i =>
              when(
                col("seed") =!= col("doc_id") && u(13, col("seed"), i) < 0.1,
                lit(null).cast("string"))
                .otherwise(
                  concat(lit("w"), pmod(xxhash64(col("seed"), i, lit(17)), lit(10000))))),
          t => t.isNotNull))
      .select("doc_id", "toks")

  /** (id, emb): deterministic 16-dim unit-norm float vectors. */
  private def vecs(spark: SparkSession, n: Long, saltBase: Int): DataFrame = {
    val raw = transform(sequence(lit(0), lit(15)), i => u(saltBase, col("id"), i) - lit(0.5))
    spark
      .range(n)
      .withColumn("raw", raw)
      .withColumn("nrm", sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)))
      .select(
        col("id"),
        transform(col("raw"), x => (x / col("nrm")).cast("float")).as("emb"))
  }

  private def timed[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    println(f"MEASURE $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("dedup")
    val n = if (args.length > 1) args(1).toLong else 500000L
    val spark = LocalSession()
    val root = s"target/scale/$mode-$n"
    val fs = new java.io.File(root)
    if (fs.exists()) { // fresh study per run: scratch tier, no carry-over
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(fs)
    }
    mode match {
      case "dedup" => dedupStudy(spark, root, n)
      case "ann" => annStudy(spark, root, n)
      case "dedup-pair" =>
        // both corpus points in ONE JVM/session back-to-back: cross-JVM
        // runs of the same point showed >3x wall-clock variance on this
        // shared host, so the decade comparison is only honest when the
        // pair shares every warmup/cache state
        Seq(500000L, 5000000L).foreach(m => dedupStudy(spark, s"target/scale/pair-$m", m))
      case "ann-k" => annKStudy(spark, root, n, sampleFrac = None)
      case "ann-sample" =>
        // the sample-fit arm of the ann-k study: same corpus, same ground
        // truth, production k≈√n quantizer — but Lloyd's runs on a
        // deterministic 2% sample (KMeansIvf.fitSample). Measures the fit
        // cost the full-fit row paid 1026 s for, plus recall parity.
        annKStudy(spark, root, n, sampleFrac = Some(if (args.length > 2) args(2).toDouble else 0.02))
      case other => sys.error(s"unknown mode '$other' (dedup | ann | dedup-pair | ann-k | ann-sample)")
    }
    spark.stop()
  }

  private def dedupStudy(spark: SparkSession, root: String, n: Long): Unit = {
    val batchN = 25000L
    val all = docs(spark, n)
    val corpus = all.filter(col("doc_id") < n - batchN)
    val batch = all.filter(col("doc_id") >= n - batchN)
    println(s"dedup study: corpus ${n - batchN}, batch $batchN")
    timed(s"DedupIndex.build corpus=${n - batchN}") {
      DedupIndex.build(spark, root, corpus, "doc_id", "toks")
    }
    (1 to 3).foreach { i =>
      val m = timed(s"DedupIndex.checkBatch#$i corpus=${n - batchN} batch=$batchN") {
        DedupIndex.checkBatch(spark, root, batch, "doc_id", "toks", 0.7).count()
      }
      println(s"  matches: $m")
    }
  }

  /** The k≈√n point the round-18 verdict asked for: the recorded 10M
    * search number is corpus-linear BY PROTOCOL (k held at 64 to keep the
    * 2M/10M pair comparable — 100 queries × nprobe 8 saturate all 64
    * buckets, so the candidate join covers the corpus). This study holds
    * the corpus FIXED and varies the quantizer instead: k=64/nprobe=8 vs
    * k≈√n (3162 for 10M) with nprobe swept to match recall — if per-query
    * cost is really bounded by the probed candidate fraction, the search
    * curve must BEND DOWN at the production k while recall holds ≥ the
    * spec bound (KMeansIvfSpec's 0.6; the k=64 baseline recall is also
    * recorded so the match is like-for-like). Ground truth is ONE exact
    * brute-force top-10 pass (map-side per-partition heaps, no shuffle
    * sort — the harness's cost, not the index's). Same-JVM protocol: both
    * k points run back-to-back in one session (host shows >3x cross-JVM
    * variance). */
  private def annKStudy(
      spark: SparkSession,
      root: String,
      n: Long,
      sampleFrac: Option[Double]): Unit = {
    val srcRoot = s"$root/source"
    println(s"ann-k study: corpus $n vectors, 16-dim, search-vs-k at fixed corpus" +
      sampleFrac.map(f => s", SAMPLE-FIT fraction $f").getOrElse(""))
    timed(s"source create n=$n") {
      SnapshotTable.create(spark, srcRoot, vecs(spark, n, 29))
    }
    val queries = vecs(spark, 100, 31)
    val qArr = queries
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val bq = spark.sparkContext.broadcast(qArr)
    val topK = 10
    // exact ground truth, once: per-partition top-10 heaps, merged on the
    // driver (100 queries × 10 rows per partition — bounded), no 1e9-row
    // shuffle sort
    val exact: Map[Long, Set[Long]] = timed(s"brute-force exact top-$topK (ground truth)") {
      val partTops: Array[Array[(Long, Array[(Double, Long)])]] = SnapshotTable
        .read(spark, srcRoot)
        .select("id", "emb")
        .rdd
        .mapPartitions { it =>
          val qs = bq.value
          // min-heap by score: head = weakest of the current top-k
          val heaps = Array.fill(qs.length)(
            scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
              Ordering.by[(Double, Long), Double](_._1).reverse))
          it.foreach { r =>
            val id = r.getLong(0)
            val v = r.getSeq[Float](1).toArray
            var qi = 0
            while (qi < qs.length) {
              if (qs(qi)._1 != id) {
                val qv = qs(qi)._2
                var s = 0.0
                var i = 0
                while (i < qv.length) { s += qv(i) * v(i); i += 1 }
                val h = heaps(qi)
                if (h.size < topK) h.enqueue((s, id))
                else if (s > h.head._1) { h.dequeue(); h.enqueue((s, id)); () }
              }
              qi += 1
            }
          }
          Iterator.single(heaps.zipWithIndex.map { case (h, qi) => (qs(qi)._1, h.toArray) })
        }
        .collect()
      partTops
        .flatten
        .groupBy(_._1)
        .map { case (qid, parts) =>
          qid -> parts.flatMap(_._2).sortBy(-_._1).take(topK).map(_._2).toSet
        }
    }
    def recallOf(res: org.apache.spark.sql.DataFrame): Double = {
      val got = res
        .select("q_id", "c_id")
        .collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val per = exact.toSeq.map { case (q, ex) =>
        (got.getOrElse(q, Set.empty[Long]) & ex).size.toDouble / ex.size
      }
      per.sum / per.size
    }
    val sqrtK = math.round(math.sqrt(n.toDouble)).toInt
    val arms = sampleFrac match {
      case None => Seq(64 -> Seq(8), sqrtK -> Seq(32, 64, 128))
      case Some(_) => Seq(sqrtK -> Seq(32, 64, 128)) // production quantizer only
    }
    val frac = sampleFrac.getOrElse(1.0)
    // decomposition: the QUANTIZER FIT is what sampling accelerates; the
    // index build also pays a one-scan O(corpus·k) bucket-coding pass that
    // no fit strategy removes — time the fit alone so the SCALING row can
    // report both components honestly (the fit below re-runs inside
    // fitFromTable; its cost is the small number this line measures)
    sampleFrac.foreach { f =>
      timed(s"KMeansIvf.fitSample ONLY k=$sqrtK iters=3 frac=$f") {
        graft.functions.KMeansIvf
          .fitSample(SnapshotTable.read(spark, srcRoot), "id", "emb", sqrtK, 3, f)
      }
    }
    for ((k, nprobes) <- arms) {
      val idxRoot = s"$root/index-k$k"
      timed(s"AnnIndex.fitFromTable k=$k iters=3 frac=$frac") {
        AnnIndex.fitFromTable(
          spark, idxRoot, srcRoot, "id", "emb", k = k, iters = 3,
          nFiles = math.max(8, k / 50), sampleFraction = frac)
      }
      nprobes.foreach { np =>
        (1 to 2).foreach { i =>
          val c = timed(s"AnnIndex.search k=$k nprobe=$np #$i q=100 topK=$topK") {
            AnnIndex.search(spark, idxRoot, queries, "id", "emb", topK = topK, nprobe = np).count()
          }
          println(s"  result rows: $c")
        }
        val rec = recallOf(
          AnnIndex.search(spark, idxRoot, queries, "id", "emb", topK = topK, nprobe = np))
        println(f"MEASURE recall@$topK k=$k nprobe=$np: $rec%.3f")
      }
    }
  }

  private def annStudy(spark: SparkSession, root: String, n: Long): Unit = {
    val srcRoot = s"$root/source"
    val idxRoot = s"$root/index"
    println(s"ann study: corpus $n vectors, 16-dim, k=64, iters=3")
    timed(s"source create n=$n") {
      SnapshotTable.create(spark, srcRoot, vecs(spark, n, 29))
    }
    timed(s"AnnIndex.fitFromTable#1 n=$n") {
      AnnIndex.fitFromTable(spark, idxRoot, srcRoot, "id", "emb", k = 64, iters = 3)
    }
    // search warm pair BEFORE the arrival (clean corpus version)
    val queries = vecs(spark, 100, 31)
    (1 to 2).foreach { i =>
      val c = timed(s"AnnIndex.search#$i q=100 topK=10 nprobe=8") {
        AnnIndex.search(spark, idxRoot, queries, "id", "emb", topK = 10, nprobe = 8).count()
      }
      println(s"  result rows: $c")
    }
    // the round-15 arrival: +1% inserts (fresh ids past n), 0.25% keyed delete
    val ins = vecs(spark, n / 100, 37).select((col("id") + n).as("id"), col("emb"))
    SnapshotTable.append(spark, srcRoot, ins)
    val delIds = spark.range(n / 400).select((col("id") * 400 + 7).as("id"))
    SnapshotTable.deleteMatchedMor(spark, srcRoot, delIds, Seq("id"))
    timed(s"AnnIndex.refresh delta=+${n / 100}/-${n / 400}") {
      AnnIndex.refresh(spark, idxRoot, srcRoot, "id", "emb")
    }
    // full-refit contrast, warm pair (the refresh alternative at O(corpus))
    (1 to 2).foreach { i =>
      timed(s"AnnIndex.fitFromTable#${i + 1} (refit contrast)") {
        AnnIndex.fitFromTable(spark, idxRoot, srcRoot, "id", "emb", k = 64, iters = 3)
      }
    }
  }
}
