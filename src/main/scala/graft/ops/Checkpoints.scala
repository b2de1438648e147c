package graft.ops

import org.apache.spark.sql.DataFrame

/** Lineage truncation with a deployment switch.
  *
  * Iterative operators (connected components, Lloyd's iterations) and
  * multi-action plans (decontaminate) must cut lineage each round or the
  * plan re-executes its whole upstream per action. Two ways to cut it:
  *
  *   - `localCheckpoint()` — executor-memory resident. Fastest, and the
  *     right default in `local[*]` where "executor loss" cannot happen. NOT
  *     fault-tolerant on a real cluster: lose an executor and the cached
  *     blocks (and, because lineage was truncated, any way to recompute
  *     them) are gone.
  *   - `checkpoint()` — written to the reliable checkpoint directory
  *     (HDFS/object store on a cluster). Survives executor loss; costs a
  *     write+read round trip per truncation.
  *
  * Set `spark.graft.checkpoint.reliable=true` (plus
  * `sparkContext.setCheckpointDir(...)`) to switch every Graft iterative
  * operator to reliable checkpoints — the production setting for long
  * 100-TB jobs where retrying the whole job costs more than the checkpoint
  * writes. The default (unset/false) keeps localCheckpoint.
  *
  * Storage note: Spark deletes out-of-scope reliable checkpoint files only
  * when `spark.cleaner.referenceTracking.cleanCheckpoints=true` (a STATIC
  * conf — set it at context start). Without it an iterative loop leaks one
  * dataset copy per truncation into the checkpoint dir; with it, each
  * round's checkpoint is GC'd once the next round's replaces it.
  */
object Checkpoints {
  val ReliableKey = "spark.graft.checkpoint.reliable"

  /** Fan a narrow scan out to the session's cores before a CPU-DENSE map
    * stage (render/decode, per-row hashing, tokenization): one unsplittable
    * input file — a single-row-group parquet fixture, a gzip — serializes
    * everything until the first exchange (optimization guide §2.5, input
    * skew). Scale-adaptive: a frame that already has at least core-count
    * partitions passes through untouched — so the repartition no-ops once
    * the scan splits to >= core-count tasks (a table with FEWER splits
    * than cores, e.g. 8 files on 32 cores, still gets the one widening
    * shuffle — that is the point, not a leak); callers project to the
    * needed columns first so the one-time shuffle moves narrow rows.
    *
    * The partition probe goes through `df.rdd`, which, under AQE, executes
    * every shuffle and broadcast already in the plan. So a frame whose
    * physical plan holds an exchange is not probed: it goes to
    * [[fanOutBy]] on the same row hash, planned but not run (the public
    * `KMeansIvf.fit` and `ProductQuantizer.fit` fan out a caller's frame,
    * which may end in an exchange; their specs pass repartitioned ones).
    * Such a frame pays that one added full-row shuffle. For a frame
    * whose widening must survive a DOWNSTREAM exchange, use [[fanOutBy]]
    * on the stage's key instead. */
  def fanOut(df: DataFrame): DataFrame = {
    // HASH on the full row, not round-robin repartition(n): a keyless
    // round-robin exchange LOCAL-SORTS its input by every column for
    // retry determinism (SPARK-23207), and fanOut's callers carry long
    // text/payload columns — measured as hidden 1-task multi-second sort
    // jobs, re-paid per plan branch whenever exchange reuse fails to fire
    // (q_minhash_pairs: 6+ concurrent 2.4 s sorts of the shingle corpus).
    // xxhash64 over all columns is deterministic (retry/speculation-safe,
    // guide §2.5 — no rand-derived keys) and spreads distinct rows as
    // uniformly as round-robin; callers pass id/text rows, not hot
    // duplicate keys.
    import org.apache.spark.sql.functions.{col, xxhash64}
    val rowHash = xxhash64(df.columns.toSeq.map(c => col("`" + c + "`")): _*)
    if (hasExchange(df)) return fanOutBy(df, rowHash)
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= par) return df
    df.repartition(par, rowHash)
  }

  private object PlanSearch extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Whether `df`'s physical plan, subqueries included, holds a shuffle or
    * broadcast exchange. Plans the frame; runs nothing. */
  private[graft] def hasExchange(df: DataFrame): Boolean =
    PlanSearch
      .collectWithSubqueries(df.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      .nonEmpty

  /** Pin the partitioning a CPU-DENSE post-shuffle stage will run at:
    * hash-repartition on `cols` — the join/groupBy key of the stage —
    * to `max(defaultParallelism, spark.sql.shuffle.partitions)`.
    *
    * Why not [[fanOut]]: a round-robin widening is destroyed by the very
    * next exchange, and AQE's BYTE-based coalescing then shrinks the
    * CPU-dense stage to a handful of tasks (a few MB of shuffle input
    * hiding minutes of per-row work — the co-purchase pair explosion ran
    * in 3 tasks on 32 cores). Repartitioning BY THE STAGE'S OWN KEY with
    * an explicit partition count REPLACES the exchange the downstream
    * join/groupBy would have inserted (same HashPartitioning — EnsureRequirements
    * adds nothing), and the explicit count (REPARTITION_BY_NUM) is exempt
    * from AQE coalescing, so the stage keeps at least core-count tasks.
    *
    * Scale shape: no ADDED shuffle at any scale (the downstream operator
    * was about to shuffle on this key anyway); at cluster scale
    * `spark.sql.shuffle.partitions` governs the width exactly as it would
    * have without the pin — the only behavioral change is that AQE cannot
    * byte-coalesce this one CPU-dense exchange. Trade-off: AQE skew-split
    * is also off for it, so apply only where per-key row counts are
    * bounded (per-order line counts, not per-tenant blobs). */
  def fanOutBy(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame = {
    val s = df.sparkSession
    // the RAW spark.sql.shuffle.partitions — NOT conf.numShufflePartitions,
    // which reports AQE's coalescePartitions.initialPartitionNum (256 here)
    // when coalescing is on: pinning THAT many partitions un-coalescably
    // produced 265-task stages of tiny tasks (measured 3-10x slower and
    // wildly variant on this suite — scheduling + per-task codegen swamp
    // the work, the exact failure r21 measured for minPartitionSize)
    val configured = s.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val n = math.max(s.sparkContext.defaultParallelism, configured)
    df.repartition(n, cols: _*)
  }

  /** Truncate `df`'s lineage eagerly, honoring [[ReliableKey]].
    * IDEMPOTENT: a frame that is already a bare truncation product — its
    * analyzed plan is the LogicalRDD a checkpoint leaves behind, or a
    * pure column-projection over one (the memoized weighted edge frame's
    * `.select("a", "b")` view) — passes through untouched, so a memoized
    * pre-truncated frame (Graph.coPurchaseEdges*) fed to a kernel that
    * defensively truncates its input doesn't get materialized again. */
  def truncate(df: DataFrame): DataFrame = {
    def truncated(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p match {
        case _: org.apache.spark.sql.execution.LogicalRDD => true
        case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
          pr.projectList.forall(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Attribute]) &&
            pr.child.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
        case _ => false
      }
    if (truncated(df.queryExecution.analyzed))
      return df
    val spark = df.sparkSession
    val reliable = spark.conf.getOption(ReliableKey).exists(_.trim.equalsIgnoreCase("true"))
    if (reliable) {
      require(
        spark.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableKey=true requires sparkContext.setCheckpointDir(...)")
      df.checkpoint()
    } else df.localCheckpoint()
  }
}
