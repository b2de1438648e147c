package graft

import java.nio.file.Files

import graft.ops.{Checkpoints, Components, Curation}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The iterative operators must produce identical results whether lineage
  * is truncated with localCheckpoint (local default) or a reliable
  * checkpoint() (the fault-tolerant cluster setting,
  * spark.graft.checkpoint.reliable=true) — the switch may change fault
  * behavior, never answers.
  */
class CheckpointModeSpec extends SparkSuite {
  import spark.implicits._

  // Declared first: must run before any test sets a checkpoint dir on the
  // shared context (setCheckpointDir has no unset). If another suite in this
  // JVM already set one, the precondition fails and the test is canceled,
  // not silently passed.
  test("reliable mode without a checkpoint dir fails fast with a clear message") {
    assume(spark.sparkContext.getCheckpointDir.isEmpty, "checkpoint dir already set in this JVM")
    spark.conf.set(Checkpoints.ReliableKey, "true")
    try {
      val e = intercept[IllegalArgumentException] {
        Checkpoints.truncate(Seq(1, 2, 3).toDF("x"))
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    } finally spark.conf.unset(Checkpoints.ReliableKey)
  }

  private def withReliable[T](body: => T): T = {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Checkpoints.ReliableKey, "true")
    try body
    finally spark.conf.unset(Checkpoints.ReliableKey)
  }

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.select(col("id").cast("long"), col("comp").cast("long"))
      .as[(Long, Long)].collect().toMap

  test("connected components (both formulations) agree across checkpoint modes") {
    val edges = ((0L to 3L).map(i => (i, i + 1)) ++ Seq((10L, 11L), (11L, 12L))).toDF("a_id", "b_id")
    val verts = (0L to 15L).toDF("vid")
    val localProp = labelsOf(Components.connectedComponents(edges, verts, "vid"))
    val localStar = labelsOf(Components.connectedComponentsStar(edges, verts, "vid"))
    val (relProp, relStar) = withReliable {
      (labelsOf(Components.connectedComponents(edges, verts, "vid")),
        labelsOf(Components.connectedComponentsStar(edges, verts, "vid")))
    }
    assert(relProp == localProp)
    assert(relStar == localStar)
  }

  test("decontaminate overlap counts agree across checkpoint modes") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", false),
      (2L, "pack my box with five dozen liquor jugs today", false),
      (3L, "the quick brown fox jumps over the lazy dog", true),
      (4L, "completely unrelated eval text goes right here now", true)
    ).toDF("doc_id", "text", "eval_flag")
    def run(): Map[Long, Long] =
      Curation
        .decontaminate(docs, "doc_id", "text", col("eval_flag"), n = 5)
        .select(col("doc_id").cast("long"), col("n_shared").cast("long"))
        .as[(Long, Long)].collect().toMap
    val local = run()
    val reliable = withReliable(run())
    assert(local == reliable)
    assert(local.contains(1L)) // doc 1 shares 5-grams with eval doc 3
  }

  /** `body`'s result and the number of Spark jobs it started. */
  private def withJobCount[T](body: => T): (T, Int) = {
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBusDrain.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("fanOut runs no job for a frame with an exchange: it pins it unprobed, and runs it once") {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    val agg = spark
      .range(0, 5000, 1, 3)
      .select((col("id") % 7).as("k"), col("id"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"), sum("id").as("s"))
    assert(Checkpoints.hasExchange(agg))
    val (out, probeJobs) = withJobCount(Checkpoints.fanOut(agg))
    assert(probeJobs == 0, s"fanOut executed $probeJobs job(s) of its input")
    val width = math.max(spark.sparkContext.defaultParallelism, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    out.queryExecution.analyzed match {
      case r: RepartitionByExpression => assert(r.optNumPartitions.contains(width))
      case other => fail(s"not pinned with fanOutBy:\n$other")
    }
    val (got, runJobs) = withJobCount(out.as[(Long, Long, Long)].collect().sorted.toSeq)
    val (ref, refJobs) = withJobCount(agg.as[(Long, Long, Long)].collect().sorted.toSeq)
    assert(got == ref)
    // the pinned frame adds one exchange (one job) and repeats none
    assert(runJobs <= refJobs + 1, s"fanOut's frame ran $runJobs jobs, its input alone $refJobs")

    // an exchange-free scan keeps the probe and the plan it always had
    val scan = Fixtures.table(spark, sf001, "documents").select("doc_id", "text")
    assert(!Checkpoints.hasExchange(scan))
    val par = spark.sparkContext.defaultParallelism
    val widened = Checkpoints.fanOut(scan)
    val expected =
      if (scan.rdd.getNumPartitions >= par) scan
      else scan.repartition(par, xxhash64(col("doc_id"), col("text")))
    assert(widened.queryExecution.analyzed.sameResult(expected.queryExecution.analyzed))
  }
}
