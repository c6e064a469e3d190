package graft

import java.nio.file.{Files, Paths}

/** Regenerates docs/PLANS.md: the formatted physical plan of every
  * headline query at sf0.01, for scale review (PushedFilters /
  * ReadSchema / join strategies / WholeStageCodegen spans).
  * Run: `sbt "runMain graft.Plans"`.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = GraftSession.create("local[8]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val headline = Seq(
      "q1_agg", "q3_topk", "q5_multijoin", "time_range_prune",
      "cdc_latest_state", "cdc_json_parse", "cdc_json_rel_parse",
      "graph_two_hop",
      "graph_label_storage",
      "dedup_ngram_jaccard", "dedup_embedding", "dedup_minhash_lsh",
      "dedup_embedding_lsh",
      "sim_lsh_ann", "sim_ivf_ann", "sim_quantized_topk",
      "decontaminate", "split_assign",
      "sample_mix", "sample_rand", "corpus_stats", "corpus_curate",
      "text_repetition", "pack_sequences",
      "embed_centroids", "corpus_ngrams", "graph_integrity",
      "dedup_survivors", "text_quality_funnel",
      "cdc_point_lookup", "cdc_state_asof", "cdc_recent_events",
      "dedup_incremental", "mm_feature_stub", "mm_resize",
      "bucketed_join", "cdc_verify_counts", "dedup_bloom_screen",
      "dedup_spans", "text_pii", "cdc_uniq_state_check",
      "corpus_overlap_check", "text_len_quantiles_check",
      "cdc_topk_state_check", "cdc_funnel", "cdc_anomaly_daily",
      "cdc_value_histogram", "cdc_sequence_count", "cdc_asof_attribution",
      "cdc_recent_by_user", "cdc_uniq_upto", "cdc_topk_weighted",
      "cdc_funnel_strict", "cdc_daily_filled", "cdc_daily_delta",
      "cdc_active_time", "cdc_value_stats", "cdc_funnel_strict_order",
      "cdc_monthly_totals",
      "graph_pagerank", "graph_node_similarity", "graph_triangles",
      "graph_lpa", "graph_sssp", "graph_pagerank_directed", "graph_hits",
      "cdc_user_entropy",
      "cdc_history_scd2", "cdc_path_counts", "cdc_value_ema", "cdc_lttb",
      "text_chunks", "sample_temperature",
      "graph_betweenness", "graph_modularity", "graph_closeness",
      "corpus_domain_cap",
      "graph_pagerank_personalized", "graph_random_walks",
      "graph_walk_pairs", "graph_eigenvector", "text_bm25",
      "graph_sample_neighborhood", "graph_ktruss",
      "graph_link_prediction", "text_tfidf", "corpus_stratified_split",
      "cdc_cms_check", "sim_filtered_ann",
      "graph_louvain", "graph_fastrp", "sim_ivfpq", "corpus_url_dedup",
      "graph_louvain_multi", "embed_kmeans", "text_classifier_score",
      "embed_cluster_sample", "graph_node2vec_walks",
      "olap_rollup", "olap_cube", "olap_grouping_sets", "olap_pivot",
      "q18_big_orders", "olap_yoy_growth", "q17_small_quantity",
      "q15_top_supplier", "cdc_rfm", "cdc_stickiness",
      "cdc_value_quantiles", "text_pmi_bigrams", "dedup_containment",
      "graph_assortativity", "graph_degree_hist", "graph_coreness",
      "cdc_funnel_times", "embed_pca_power", "stream_sliding_counts",
      "cdc_cohort_matrix", "q4_priority_returns",
      "q13_custdist", "q22_no_orders", "graph_node2vec",
      "q21_waiting_supplier", "q16_supplier_cnt",
      "q6_forecast", "q7_volume_shipping", "q8_market_share",
      "q9_product_profit", "q10_returned_items", "q12_late_lines",
      "q14_promo_revenue", "q19_disjunctive",
      "q2_min_cost_supp", "q11_important_stock", "q20_promotion_parts",
      "text_bigram_ppl", "dedup_edit_pairs", "text_vocab_coverage")
    // the LSH entries are PINNED to their bucketed operating point
    // here: at sf0.01 the auto entries' cost-based selection correctly
    // falls back to the exact loop-join plan, but PLANS.md exists to
    // audit the plan a 100× corpus executes — recording the fallback
    // audits the wrong plan (VERDICT r4 #3). PlanSpec asserts the
    // pinned shapes contain no loop join.
    val pinned: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "dedup_embedding_lsh" -> ((s, d) =>
        graft.operators.Dedup.embeddingPairsLsh(
          Tables.load(s, d, "embeddings"), "vec_id", "embedding", tau = 0.4,
          tables = Some(16), bits = Some(4)).orderBy("i", "j")),
      "sim_lsh_ann" -> ((s, d) =>
        graft.operators.Similarity.lshTopK(
          Tables.load(s, d, "embeddings"), "vec_id", "embedding",
          tables = Some(16), bits = Some(4)).orderBy("q_id", "rk")),
      // pinned to the POSTING pair-generation shape (cutover forced
      // to 0): at sf0.01 the cost-based selector correctly keeps the
      // small-graph self-join, but the plan a 100× graph executes is
      // the posting one — the audit point is the partial HashAggregate
      // sitting directly over the pair Generate, BEFORE the exchange
      "graph_node_similarity" -> ((s, d) =>
        graft.operators.GraphOps.nodeSimilarity(
          Tables.load(s, d, "lineitem")
            .join(Tables.load(s, d, "orders"),
              org.apache.spark.sql.functions.col("l_orderkey") ===
                org.apache.spark.sql.functions.col("o_orderkey"))
            .select(org.apache.spark.sql.functions.col("l_suppkey"),
              org.apache.spark.sql.functions.col("o_custkey")),
          entity = "l_suppkey", feature = "o_custkey",
          featCap = 500L, topK = 20, postingCutover = 0L)),
      // pinned to the ADJACENCY-INTERSECT wedge generation (cutover
      // forced to 0): at sf0.01 the cost-based selector correctly
      // keeps the small-graph wedge join, but the plan a 100× graph
      // executes intersects per-edge adjacency arrays — the audit
      // point is the Generate/intersect stack with NO wedge-stream
      // Exchange between the adjacency joins and the corner aggregate
      "graph_triangles" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val li = Tables.load(s, d, "lineitem")
          .filter(col("l_quantity") <= 25)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val edges = li.as("x").join(li.as("y"),
            col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
          .select(col("x.pk").as("a"), col("y.pk").as("b"))
          .distinct()
        graft.operators.GraphOps.triangleCounts(edges, adjCutover = 0L)
          .orderBy("node")
      }),
      // the daily-ingest exact screen: the audit point is the ABSENCE
      // of Exchange/Join — history rides the plan as a filter literal
      "dedup_bloom_screen" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val p = Files.createTempDirectory("graft_plansbloom")
          .resolve("bf.bin").toString
        graft.operators.Sketches.buildExactBloom(
          Tables.load(s, d, "documents").limit(100), "text", p,
          expectedItems = Some(10000L))
        graft.operators.Sketches.screenExactBloom(
          Tables.load(s, d, "documents").select("doc_id", "text"),
          "text", p).filter(!col("maybe_dup"))
      }))
    val pinnedNote: Map[String, String] = Map(
      "graph_node_similarity" -> (" (pinned postingCutover=0 — the " +
        "posting-array pair-generation SHAPE a 100× graph executes; " +
        "the sf0.01 driver entry cost-selects the small-graph " +
        "self-join)"),
      "dedup_embedding_lsh" -> (" (pinned tables=16 bits=4 — the bucketed " +
        "plan SHAPE; auto mode scales bits/tables with the corpus and " +
        "the sf0.01 driver entry cost-falls-back to exact)"),
      "sim_lsh_ann" -> (" (pinned tables=16 bits=4 — the bucketed " +
        "plan SHAPE; auto mode scales bits/tables with the corpus and " +
        "the sf0.01 driver entry cost-falls-back to exact)"),
      "dedup_bloom_screen" -> (" (the daily-ingest exact screen — audit " +
        "point is the ABSENCE of Exchange/Join: history is a filter literal)"),
      "graph_triangles" -> (" (pinned adjCutover=0 — the adjacency-" +
        "intersect wedge-generation SHAPE a 100× graph executes; the " +
        "sf0.01 driver entry cost-selects the small-graph wedge join)"))
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by `graft.Plans`)\n\n")
    sb.append("Audit notes per query follow the plan. Regenerate after any\n")
    sb.append("operator change: `sbt \"runMain graft.Plans\"`.\n")
    headline.foreach { name =>
      val df = pinned.getOrElse(name, SparkEntry.queries(name))(spark, dir)
      sb.append(s"\n## $name${pinnedNote.getOrElse(name, "")}\n\n```\n")
      // binary literals (e.g. the bloom filter riding the plan) print
      // as multi-KB hex blobs — elide them, the audit reads shapes
      sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        .replaceAll("0x[0-9A-Fa-f]{64}[0-9A-Fa-f]*", "0x<elided-binary>"))
      sb.append("```\n")
    }
    // AQE skew-join proof (VERDICT r7 #5): the FINAL adaptive plan of
    // a zipf-keyed shuffle join at test-scaled thresholds, captured
    // AFTER execution — `skew=true` on the SortMergeJoin is the
    // runtime split SCALE.md's "AQE skew join handles the rest" claim
    // rests on. Mirrors ScaleGuardSpec's oracle-checked case.
    locally {
      import org.apache.spark.sql.functions._
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(0, 200000).select(
        when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val right = spark.range(0, 2000).select(col("id").as("k"),
        (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
        .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("chk"))
      joined.collect()
      sb.append("\n## aqe_skew_join (final adaptive plan after execution — ")
      sb.append("zipf key carries 90% of the left side; thresholds scaled ")
      sb.append("to test data, structure identical at 256 MB defaults)\n\n```\n")
      sb.append(joined.queryExecution.executedPlan.toString)
      sb.append("```\n")
    }
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
    println(s"wrote docs/PLANS.md (${headline.size} plans + aqe_skew_join)")
    spark.stop()
  }
}
