package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Plan review without running anything.
  *
  * With no arguments: writes PLANS.md, the formatted physical plans of
  * the headline queries at sf0.001.
  *
  * `SPARK_GRAFT_SF_DIR=<sf dir> runMain graft.PlanDump <outDir> <suffix>
  * [q_a,q_b,...]`: writes `<outDir>/<name>_<suffix>.txt` with the
  * `.explain("formatted")` output of the named queries (default: every
  * declared query) — the optimization rounds' before/after plan
  * evidence; point it at the bench's sf0.1 dir so size-driven strategy
  * choices match the measured numbers. Streaming/iterative
  * gates whose run() executes jobs eagerly still produce their final
  * frame's plan (the serve/read side). */
object PlanDump {
  def main(args: Array[String]): Unit =
    if (args.isEmpty) headline() else evidence(args(0), args(1), args.drop(2))

  private def evidence(outDir: String, suffix: String,
      only: Array[String]): Unit = {
    val names =
      if (only.nonEmpty) only(0).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the sf dir to plan against"))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = Engine.ready(Engine.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("plan-dump"),
      cpus).getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    names.foreach { name =>
      try {
        val plan = SparkEntry.queries(name)(spark, dir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(out.resolve(s"${name}_$suffix.txt"), plan)
        System.err.println(s"[plans] $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name FAILED: ${Verify.brief(e)}")
      } finally graft.queries.Scratch.release(spark)
    }
    spark.stop()
  }

  private def headline(): Unit = {
    val spark = Engine.ready(Engine.configure(
      SparkSession.builder().master("local[4]").appName("plan-dump"), 4)
      .getOrCreate())
    val dir = "/root/testdata/sf0.001"
    val headline = Seq("q1_agg", "q_join_broadcast", "q_join_bucketed",
      "q_topk", "q_dedup_minhash", "q_sim_topk", "q_filter_pushdown",
      "q_interval_join", "q_sim_lsh", "q_pipeline_e2e", "q_grouping_sets",
      "q_sink_partitioned", "q_sink_sorted", "q_cogroup", "q_text_oov",
      "q_decontaminate", "q_dedup_embedding_lsh", "q_pack_sequences",
      "q_shuffle_shards", "q_mix_weighted", "q_select_budget",
      "q_lateral_topn", "q_dedup_chunks", "q_sim_pq", "q_decontaminate_bloom",
      "q_dedup_incremental", "q_sample_stratified", "q_sink_compact",
      "q_text_bm25", "q_quality_audit", "q_mm_dedup",
      "q_text_simjoin", "q_text_cms", "q_join_dpp", "q_zorder_cluster",
      "q_graph_communities", "q_source_orc", "q_rag_ingest",
      "q_text_phrase", "q_sql_surface", "q_sketch_union",
      "q_dedup_substring", "q_dedup_substring_rewrite", "q_quality_gopher",
      "q_sim_hnsw", "q_text_bpe", "q_sim_ivf_nprobe",
      "q_stats_skipping", "q_agg_pushdown", "q_variant", "q_time_travel",
      "q_star_join", "q_scd2_join", "q_ts_sax", "q_quantile_sketch",
      "q_not_in_null", "q_split_leakage_safe", "q_incremental_files",
      "q_sim_ivf_cells", "q_text_normalize", "q_dedup_normalized",
      "q_text_bpe_multi", "q_text_link_graph", "q_graph_web_authority",
      "q_mm_audio_features", "q_dedup_cdc_chunks", "q_sample_pps",
      "q_delete_propagation", "q_text_langid_ngram", "q_text_bpe_apply",
      "q_sim_index_persisted",
      "q_sim_index_delete", "q_sim_index_compact", "q_stream_index_upsert",
      "q_sim_index_retrain", "q_text_bpe_incremental",
      "q_stream_index_fold", "q_sim_index_filtered", "q_sim_index_stats",
      "q_sim_index_pq", "q_sim_index_delete_all", "q_sim_index_planner",
      "q_stream_index_serve", "q_stream_index_pq", "q_sim_index_retrain2",
      "q_sim_index_hnsw", "q_sim_index_hnsw_delete",
      "q_sim_index_hnsw_upsert", "q_stream_index_pq_fold",
      "q_stream_index_serve_maint", "q_sim_index_hnsw_repair",
      "q_stream_index_hnsw_serve",
      "q_sim_index_hnsw_hier", "q_sim_pq_residual", "q_mm_resize",
      "q_sim_index_filtered_planner", "q_stream_index_hnsw_upsert",
      "q_stream_index_serve_recover", "q_sim_index_hnsw_hier_maint",
      "q_sim_index_hnsw_filtered", "q_sim_index_hnsw_hier_filtered",
      "q_sim_filtered_route", "q_sim_index_hnsw_hier_maint_filtered",
      "q_stream_index_hnsw_hier_fold")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (headline queries, sf0.001)\n\n")
    sb.append("Generated by `graft.PlanDump`. What to look for: `PushedFilters`/`ReadSchema`\n")
    sb.append("on scans, `BroadcastHashJoin` on dimension joins, `Bucketed: true` with no\n")
    sb.append("input exchange on the bucketed join, `TakeOrderedAndProject` for top-k,\n")
    sb.append("`partial_`-prefixed aggregates before every exchange.\n")
    headline.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get("/root/repo/PLANS.md"), sb.toString)
    println("[plandump] wrote PLANS.md")
    spark.stop()
  }
}
