package graft

/** Build-time Spark jobs of every declared query at sf0.001, in the shared
  * two-core test session. Building a query should define a plan, not run
  * jobs; the ones that still do are listed with a ceiling. Lower a ceiling
  * when a change cuts a query's jobs; never raise one.
  */
class BuildJobCensusSpec extends SparkSpec {

  /** Build-job ceiling per query; every query not listed builds with none. */
  private val ceilings: Map[String, Int] = Map(
    "q_ntile" -> 8, "q_bloom_semi" -> 4, "x_pagerank" -> 9, "x_rand_walk" -> 3, "x_bfs_dist" -> 20,
    "x_shortest_path" -> 23, "x_incr_agg" -> 5, "q_running_global" -> 5, "x_triangles" -> 5,
    "x_select_quantile" -> 4, "x_kmv_merge" -> 4, "x_theta_intersect" -> 4, "x_hll_merge" -> 2,
    "q_sessionize_capped" -> 4, "x_pmi_pairs" -> 2, "x_bpe_train" -> 26, "x_dedup_jaccard" -> 6,
    "x_lsh_precision" -> 6, "x_dedup_cluster" -> 8, "x_dedup_cluster_verified" -> 19,
    "x_cc_size_dist" -> 19, "x_oov_rate" -> 2, "x_lm_rarity" -> 1, "x_quality_filter" -> 8,
    "x_jaccard_join" -> 5, "x_containment_join" -> 2, "x_dedup_rate_curve" -> 3, "x_ivf_topk" -> 3,
    "x_ann_recall_multi" -> 21, "x_ann_multiprobe_topk" -> 15, "x_ann_filtered_topk" -> 15,
    "x_ann_nprobe_curve" -> 24, "x_semantic_dedup" -> 3, "x_source_overlap" -> 6,
    "x_pq_assign" -> 3, "x_ivfpq_topk" -> 4, "x_rfm" -> 12, "x_basket_pairs" -> 2, "x_kcore" -> 43,
    "x_scd2_capped" -> 4, "x_auc" -> 9, "x_calibration_bins" -> 12, "x_ks_stat" -> 9,
    "x_weighted_median" -> 4)

  test("every declared query builds within its job ceiling") {
    val dir = "/root/testdata/sf0.001"
    val counts = SparkEntry.declared.map { d =>
      // drop the previous query's checkpoint blocks, as Verify does
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      d.name -> SqlExecutions.jobs(spark) { d.build(spark, dir); () }
    }
    val over = counts.collect { case (q, n) if n > ceilings.getOrElse(q, 0) =>
      s"$q: $n jobs, ceiling ${ceilings.getOrElse(q, 0)}"
    }
    info(s"${counts.map(_._2).sum} build jobs in ${counts.count(_._2 > 0)} queries")
    assert(over.isEmpty, over.mkString("; "))
  }
}
