package graft

import org.apache.spark.sql.SparkSession

/** The one session the query-surface mains (Bench, Verify, Explain,
  * MeasureIndexScale) run under. GenData keeps its own: the stored
  * perfbench expectations depend on the data it writes. */
object LocalSession {
  /** Core count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Start shuffles WIDE and let AQE coalesce back to core-count
      // parallelism when the data is small (parallelismFirst=true is the
      // default). A flat width equal to the core count gives 100M-row
      // aggregations ~3M-entry hash maps per task — measured
      // AGGREGATE_OUT_OF_MEMORY at 100× the bench SF — while the wide
      // initial width costs nothing at small SF because the coalescer
      // collapses it.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // static conf; no-op unless reliable checkpointing is enabled below
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_CKPT_DIR=<dir> switches every iterative operator to
    // reliable (disk) checkpoints — the at-scale mode Checkpoints.scala
    // documents: memory-resident localCheckpoint frames are the binding
    // constraint for the graph family at ≥100× the bench SF in one JVM.
    sys.env.get("SPARK_GRAFT_CKPT_DIR").foreach { dir =>
      spark.conf.set(graft.ops.Checkpoints.ReliableKey, "true")
      spark.sparkContext.setCheckpointDir(dir)
    }
    spark
  }
}
