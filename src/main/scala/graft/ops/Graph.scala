package graft.ops

import graft.Fixtures
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reusable graph kernels over arbitrary edge frames — the library form of
  * the `q_graph_*` rows (which now bind these to the co-purchase fixture),
  * mirroring how Components exposes connected components and Curation the
  * dedup pipeline. Input contract for both kernels: a DataFrame with long
  * columns (a, b), one row per DISTINCT UNDIRECTED edge, a < b, no
  * self-loops.
  *
  * Scale story (unchanged from the query forms): triangle counting uses the
  * degree-ordered orientation so wedge enumeration is bounded by
  * sum C(outdeg, 2) with outdeg = O(sqrt(m)) even at hub vertices;
  * pagerank runs a fixed number of pregel supersteps in pure integer e12
  * fixed-point so results are bit-identical across partitionings, engines,
  * and cluster sizes.
  */
object Graph {

  /** Triangle + edge count via the degree-ordered orientation
    * (Suri & Vassilvitskii): every edge points from its lower-(deg, id)
    * endpoint to the higher, so out-degree is O(sqrt m) even at hubs, and
    * a triangle {x<y<z} (in orientation order) is found exactly once — at
    * edge (x,y), as z ∈ N+(x) ∩ N+(y). The closing check is per-edge
    * adjacency-ARRAY intersection, not a wedge join: the wedge-enumeration
    * formulation materializes and shuffles sum C(outdeg, 2) rows (41M at
    * sf0.1 — measured at 2-2.5 s of closing-join shuffle on top of 0.6 s
    * of enumeration), while the intersection does the same arithmetic
    * in-row and only shuffles each src's neighbor array once per out-edge
    * (~half the bytes, no 41M-row join machinery; measured 1.3-2.5 s vs
    * 2.6-3.1 s for the whole closing stage, round-13 attribution in
    * SCALING.md). Array length is bounded by the orientation's O(sqrt m)
    * out-degree, so per-row memory stays bounded at any scale. Returns one
    * row (n_edges, n_triangles). */
  def triangles(edges: DataFrame): DataFrame = {
    val e = Checkpoints.truncate(edges)
    val deg = e
      .select(col("a").as("v"))
      .union(e.select(col("b").as("v")))
      .groupBy("v")
      .agg(count(lit(1)).as("deg"))
    // orientation key: (deg, id) packed into one long — distinct per
    // vertex, monotone in the (deg, id) lexicographic order. Injective
    // only while v fits in 32 bits AND deg in 31 (deg * 2^32 must stay
    // below 2^63 — deg >= 2^31 would wrap the signed long and silently
    // corrupt the orientation order) — FAIL LOUDLY at the boundary; at
    // 100 TB a degree >= 2^31 means one item co-occurs with 2 billion
    // others and the remedy is hub removal, not a wider key.
    val kd = deg.select(
      col("v"),
      expr(
        "CASE WHEN v >= 0 AND v < 4294967296 AND deg < 2147483648 THEN deg * 4294967296 + v " +
          "ELSE CAST(raise_error(concat('triangle orientation key overflow: (deg=', deg, " +
          "', v=', v, ') exceeds 32 bits')) AS BIGINT) END").as("k"))
    val ka = kd.select(col("v").as("a"), col("k").as("k_a"))
    val kb = kd.select(col("v").as("b"), col("k").as("k_b"))
    val o = Checkpoints.truncate(
      e.join(ka, Seq("a"))
        .join(kb, Seq("b"))
        .select(
          when(col("k_a") < col("k_b"), col("a")).otherwise(col("b")).as("src"),
          when(col("k_a") < col("k_b"), col("b")).otherwise(col("a")).as("dst")))
    // shuffle-HASH hints: the edge frame is the probe stream on both joins;
    // SMJ would sort it, hashing the (vertex-sized) adjacency side doesn't.
    val adj = o.groupBy(col("src")).agg(collect_list(col("dst")).as("nbrs"))
    val tri = o
      .join(adj.hint("shuffle_hash"), Seq("src"))
      .select(col("dst"), col("nbrs").as("nu"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")).hint("shuffle_hash"), Seq("dst"))
      .select(size(array_intersect(col("nu"), col("nv"))).as("t"))
      .agg(coalesce(sum("t"), lit(0L)).as("n_triangles"))
    // n_edges counts o, not e: same cardinality (orientation is per-edge),
    // one fewer consumer of the un-oriented frame.
    o.agg(count(lit(1)).as("n_edges")).crossJoin(tri)
  }

  /** PageRank over an undirected edge frame, `iters` synchronous
    * supersteps at damping 0.85, in pure integer e12 fixed-point: every
    * contribution is rank div deg and every update integer-scaled, so
    * per-vertex sums are order-independent longs. The vertex count rides a
    * broadcast 1-row aggregate (init/base are column expressions — no
    * separate eager count() pass; the only jobs at construction are the
    * two lineage truncations every iterative kernel needs anyway); the
    * degree-annotated edge list
    * and vertex frame are truncated once outside the loop, the rank chain
    * stays lazy across the fixed supersteps (one optimized DAG).
    *
    * Superstep join shape: the edge frame is hash-partitioned on src by
    * construction (the degree join shuffled it; checkpointing preserves
    * the partitioning), so each superstep only moves the VERTEX-sized rank
    * frame — and the join carries a shuffle_hash hint building on that
    * rank side. Without the hint the planner either broadcasts the rank
    * frame (OOM once vertices reach cluster scale) or sort-merges —
    * re-sorting the edge frame every superstep; the sf1→sf3 scaling study
    * measured that plan flip as a 5× jump at 3× data. Hash-building on
    * the per-partition rank slice costs O(|V|/parts) memory and never
    * touches edge order. Returns (v, rank_e12). */
  def pagerank(edges: DataFrame, iters: Int = 5): DataFrame = {
    val e = edges
    val ed = e
      .select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
    val dg = ed.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val edc = Checkpoints.truncate(
      ed.join(dg.select(col("v").as("src"), col("deg")), Seq("src")))
    val nRow = dg.agg(count(lit(1)).as("n_v"))
    val verts = Checkpoints.truncate(
      dg.select("v")
        .crossJoin(broadcast(nRow))
        .withColumn("init", expr("CAST(1000000000000 AS BIGINT) div n_v"))
        .select(col("v"), col("init"), expr("(15 * init) div 100").as("base")))
    var pr = verts.select(col("v"), col("init").as("r"))
    for (_ <- 1 to iters) {
      val contrib = edc
        .join(pr.select(col("v").as("src"), col("r")).hint("shuffle_hash"), Seq("src"))
        .select(col("dst").as("v"), expr("r div deg").as("c"))
        .groupBy("v")
        .agg(sum("c").as("sc"))
      pr = verts
        .join(contrib, Seq("v"), "left")
        .select(
          col("v"),
          (col("base") + expr("(85 * coalesce(sc, CAST(0 AS BIGINT))) div 100")).as("r"))
    }
    pr.select(col("v"), col("r").as("rank_e12"))
  }

  /** Degree distribution: (deg, n_vertices) over the undirected edge
    * frame — two linear passes, the shape of the graph in a model-sized
    * result at any scale. */
  def degreeDistribution(edges: DataFrame): DataFrame =
    edges
      .select(col("a").as("v"))
      .union(edges.select(col("b").as("v")))
      .groupBy("v")
      .agg(count(lit(1)).as("deg"))
      .groupBy("deg")
      .agg(count(lit(1)).as("n_vertices"))

  /** Common-neighbor link prediction: for vertex pairs NOT already joined
    * by an edge, the number of shared neighbors — the classic
    * missing-link score. Wedges enumerate from the symmetric adjacency
    * (both endpoints of every wedge, unlike the triangle kernel's
    * min-key-only orientation, because every pair needs its FULL
    * common-neighbor count), so the wedge volume is sum C(deg, 2):
    * `maxDegree` caps hub vertices the same way the audio/LSH kernels
    * cap hot postings — a 10^7-degree hub contributes C(10^7, 2) wedges
    * and zero ranking signal. Candidates anti-join the edge list; both
    * joins key on vertex ids. */
  def commonNeighbors(edges: DataFrame, maxDegree: Option[Long] = None): DataFrame = {
    val e = Checkpoints.truncate(edges)
    val ed = e
      .select(col("a").as("s"), col("b").as("d"))
      .union(e.select(col("b").as("s"), col("a").as("d")))
    val adj = maxDegree match {
      case Some(cap) =>
        val deg = ed.groupBy(col("s").as("v")).agg(count(lit(1)).as("deg"))
        ed.join(broadcast(deg.filter(col("deg") > cap).select(col("v").as("s"))), Seq("s"), "left_anti")
      case None => ed
    }
    val w1 = adj.select(col("s"), col("d").as("x"))
    val w2 = adj.select(col("s"), col("d").as("y"))
    w1.join(w2, Seq("s"))
      .filter(col("x") < col("y"))
      .groupBy(col("x").as("a"), col("y").as("b"))
      .agg(count(lit(1)).as("cn"))
      .join(e, Seq("a", "b"), "left_anti")
  }

  // ---- fixture binding ----

  /** Memoized edge frames per (session, fixture dir). A dropped frame's
    * CACHED blocks (localCheckpoint mode) are unpersisted EAGERLY —
    * GC-dependent reclamation let up to 15 memo-honest bench reruns each
    * pile another copy of the checkpointed self-join into the block
    * manager before the context cleaner caught up (round-12 advice). A
    * dropped frame is unusable by design (truncated lineage, so a later
    * action on a stale reference fails rather than recomputes — callers
    * must re-fetch from the memo). Reliable-mode checkpoint FILES still
    * wait for the context cleaner
    * (`spark.cleaner.referenceTracking.cleanCheckpoints=true`): eager
    * file deletion could race a scan that is still reading them. */
  private val edgeMemo = new FixtureMemo[(SparkSession, String), DataFrame](df =>
    if (!df.sparkSession.sparkContext.isStopped)
      df.queryExecution.analyzed
        .collect { case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd }
        .filter(_.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
        .foreach(_.unpersist(blocking = false)))

  /** Forget memoized edge frames so the next graph query rebuilds the
    * checkpointed self-join. Bench calls this before every warm RE-RUN
    * measurement so the rerun is a true recompute rather than a cached-
    * block read (round-11 verdict finding #1). */
  def clearMemo(): Unit = edgeMemo.clear()

  /** True when the memoized frame is still servable. A reliable-checkpoint
    * frame (StorageLevel.NONE — data lives in the checkpoint dir) always
    * is; a localCheckpoint frame is only servable while ALL its cached
    * partitions survive, because truncation removed any way to recompute
    * dropped blocks. On block loss we rebuild instead of failing every
    * later graph query unrecoverably. */
  private def blocksHealthy(s: SparkSession, df: DataFrame): Boolean = {
    val rdds = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    rdds.forall { rdd =>
      rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE || {
        val info = s.sparkContext.getRDDStorageInfo.find(_.id == rdd.id)
        info.exists(_.numCachedPartitions >= rdd.getNumPartitions)
      }
    }
  }

  /** WEIGHTED undirected co-purchase edges (a, b, w = number of orders the
    * pair shares), built by the lineitem self-join on the order key —
    * hash-partitioned on l_orderkey, pair explosion bounded by the
    * per-order line count. MEMOIZED per (session, sfDir): the distinct
    * view ([[coPurchaseEdges]] — triangles, pagerank, degree dist) and the
    * signal view (w ≥ threshold — link prediction) are both projections
    * of this one frame, so the fact-table self-join runs ONCE per
    * session/SF however many graph queries execute. Already
    * lineage-truncated; reuse is a cached-block read and each query's
    * semantics are unchanged (the frame is deterministic). */
  def coPurchaseEdgesWeighted(s: SparkSession, dir: String): DataFrame = {
    // entries of stopped sessions are unusable and would otherwise pin
    // their SparkContext for the process lifetime; a frame that lost
    // cached blocks is rebuilt
    edgeMemo.evict { case (k, df) =>
      k._1.sparkContext.isStopped || (k == (s, dir) && !blocksHealthy(s, df))
    }
    // r22 measured leave-alone: pinning the self-join's exchange wide
    // (Checkpoints.fanOutBy on ok) cut the explosion job 3.2 s/3 tasks →
    // 0.55 s/35 tasks and q_graph_degree_dist 3.9 → 1.9 s warm, but the
    // CHECKPOINTED frame then carries ~5x the partitions and every
    // downstream iterative kernel inflates with it (pagerank supersteps
    // 3 → 28 tasks, localCheckpoints 49-82 tasks, q_graph_pagerank 4.0 →
    // 7.8-12.8 s, q_graph_triangles rerun 4.6 → 11.7 s) — a net family
    // loss, consistent with r21's AQE-minPartitionSize experiment. The
    // build stays narrow so the four consumers stay compact.
    def build(): DataFrame = {
      val li = Fixtures
        .table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      Checkpoints.truncate(
        li.join(li.select(col("ok"), col("pk").as("pk2")), Seq("ok"))
          .filter(col("pk") < col("pk2"))
          .groupBy(col("pk").as("a"), col("pk2").as("b"))
          .agg(count(lit(1)).as("w")))
    }
    edgeMemo((s, dir))(build())
  }

  /** Distinct undirected co-purchase edges — the unweighted projection of
    * [[coPurchaseEdgesWeighted]] (same memoized build). */
  def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    coPurchaseEdgesWeighted(s, dir).select("a", "b")
}
