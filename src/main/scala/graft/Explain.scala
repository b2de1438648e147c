package graft

/** Plan-audit utility: prints the formatted physical plan of selected
  * queries so pushdown / join strategy / top-k fusion can be inspected
  * (`sbt "runMain graft.Explain [query ...]"`). Not part of the driver
  * contract; used to verify the plans stay scale-shaped (SURVEY.md §4).
  */
object Explain {
  private val defaultAudit = Seq(
    "q_filter_pred",      // expect: PushedFilters + pruned ReadSchema
    "q_agg_q1",           // expect: partial+final HashAggregate in one codegen span
    "q_join_broadcast",   // expect: BroadcastHashJoin
    "q_join_shuffle",     // expect: SortMergeJoin (pinned via hint)
    "q_join_multiway",    // expect: broadcast for customer side at this SF
    "q_limit_topk",       // expect: TakeOrderedAndProject, no global sort
    "q_win_topk",         // expect: WindowGroupLimit pruning
    "q_sim_cosine_topk",  // expect: BroadcastNestedLoopJoin (20-row side)
    "q_join_asof_native", // expect: AsOfJoin over key exchange + (key,time) sorts
    "q_minhash_pairs",    // expect: band-keyed SMJ/SHJ, no cartesian stage
    "q_cosine_lsh_pairs", // expect: band-keyed join + exact-cosine verify
    "q_join_range",       // expect: hash join on _bkt, no nested loop
    "q_join_salted",      // expect: equi-join on (key, salt), Expand on right
    "q_decontaminate",    // expect: BroadcastHashJoin on the shingle (eval side small)
    "q_chunk_docs",       // expect: map-only Generate over the int start sequence
    "q_sim_ann_kmeans",   // expect: bucket equi-join, WindowGroupLimit top-k
    "q_agg_mode",         // expect: partial+final HashAggregate, WindowGroupLimit rank=1
    "q_curation_pipeline", // expect: digest agg -> filter -> hash-sample -> final agg, one job
    "q_sim_ann_pq",       // expect: bucket equi-join carrying codes only, ADC + re-rank joins by id
    "q_scd2_incremental", // expect: semi/anti split, ONE window shuffle per scd2 kernel
    "q_join_tpch_q18",    // expect: AQE broadcast of the post-HAVING key set (no hint in source)
    "q_join_tpch_q10",    // expect: filters under the fact-fact join, nation broadcast, TakeOrdered
    "q_join_tpch_q7",     // expect: pre-filtered nation aliases broadcast into supplier/customer
    "q_join_tpch_q14",    // expect: month filter on the fact scan, ONE conditional+total agg pass
    "q_join_tpch_q19",    // expect: OR-of-ANDs factored into PushedFilters on BOTH scans
    "q_join_tpch_q21",    // expect: semi/anti on l_orderkey, broadcast supplier dim, no cartesian
    "q_join_tpch_q22",    // expect: broadcast 1-row scalar avg, anti-join on date-pruned orders
    "q_sim_ann_filtered", // expect: label filter UNDER the bucket equi-join (candidate side)
    "q_ts_ewma",          // expect: ONE shuffle reused by window + both groupBys
    "q_simjoin_prefix",   // expect: prefix-token equi-join + length filter, NO cartesian anywhere
    "q_graph_triangles",  // expect: equi-joins throughout; cartesian ONLY at the final 1-row x 1-row
    "q_pareto_front",     // expect: single range-partitioned sort, two windows, zero joins
    "q_histogram_equidepth", // expect: ONE coarse-bucket shuffle, parallel rank window, broadcast cum join
    "q_graph_pagerank",   // expect: lazy 5-superstep DAG, AQE-broadcast rank joins, one groupBy per step
    "q_sku_abc",          // expect: two-level cumulative decomposition, broadcast bucket frame
    "q_join_tpch_q2",     // expect: derived-catalog agg once, broadcast dims, decorrelated min join
    "q_join_tpch_q12",    // expect: date filter pushed to lineitem scan, lateness as join residual
    "q_text_bm25",        // expect: tf/df as aggregates (no tok window), broadcast corpus stats
    "q_weighted_median",  // expect: ONE brand shuffle shared by both windows
    "q_entity_resolution", // expect: block-key equi-join, levenshtein as residual, no cartesian
    "q_dedup_semantic_lsh" // expect: band equi-join + exact verify + CC, no all-pairs stage
  )

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = LocalSession()
    val names = if (args.nonEmpty) args.toSeq else defaultAudit
    // SPARK_GRAFT_PLANS_DIR=<dir>[:<suffix>] additionally writes each plan
    // to <dir>/<query><suffix>.txt — the optimization rounds' before/after
    // plan-evidence files (plans/r21/...), captured without scraping stdout.
    // The suffix separator is the LAST ':' and only when the part after it
    // contains no '/' — a directory path that itself contains a colon is
    // then never misparsed into a wrong dir plus bogus suffix.
    val out = sys.env.get("SPARK_GRAFT_PLANS_DIR").map { v =>
      val i = v.lastIndexOf(':')
      val (d, sfx) =
        if (i >= 0 && !v.substring(i + 1).contains('/')) (v.substring(0, i), v.substring(i + 1))
        else (v, "")
      new java.io.File(d).mkdirs()
      (d, sfx)
    }
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
      out.foreach { case (d, sfx) =>
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$d/$n$sfx.txt"), txt)
      }
    }
    spark.stop()
  }
}
