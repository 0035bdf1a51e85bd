package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: dump `explain("formatted")` of the headline queries to
  * docs/PLANS.md so plan quality (pushdown, pruning, broadcast,
  * whole-stage codegen spans) is reviewable without running Spark.
  */
object PlanDump {
  val Headline = Seq(
    "q_pricing_summary", "q_top_orders", "q_region_volume",
    "q_fact_sales", "q_dedup_minhash", "q_dedup_jaccard",
    "q_dedup_cosine", "q_dedup_cosine_lsh", "q_ann_bruteforce",
    "q_events_sessions", "q_events_asof", "q_range_join",
    "q_dedup_incremental", "q_contamination", "q_corpus_filter",
    "q_salted_agg", "q_embed_centroid", "q_profile",
    "q_rollup", "q_scd2", "q_snapshot_diff", "q_bloom_join",
    "q_salted_join_hot", "q_profile_values", "q_text_quality",
    "q_clean_winsorize", "q_multimodal_transform", "q_multimodal_decode",
    "q_corpus_pack_exact", "q_dedup_semantic", "q_corpus_temperature",
    "q_text_vocab", "q_cube", "q_heavy_hitters",
    "q_text_chunk", "q_dedup_windows", "q_dedup_trim",
    "q_profile_corr", "q_text_bpe_encode", "q_corpus_retrieval",
    "q_text_classifier", "q_text_bm25", "q_text_rrf",
    "q_text_hybrid", "q_contamination_semantic",
    "q_multimodal_imgdecode", "q_text_perplexity", "q_corpus_dsir",
    "q_text_perplexity_tri",
    // the r11/r12 additions: plan-audited like everything else (the
    // remaining new gates are protocol/outcome contracts whose audit
    // surface is covered here by proxy — q_write_audited's data pass
    // IS q_clean_validate's aggregate; q_ann_snapshot's serve IS
    // q_ann_index's probed-cell plan with a different meta source).
    // The r13 gates are the same class: q_snapshot_table's only data
    // passes are a parquet write + q_clean_validate's audit
    // aggregate, q_snapshot_audit / q_dedup_index_audit / the
    // compaction preflight are pure metadata (pointer/meta reads +
    // listings — no Spark plan to audit), and q_index_repair's serve
    // re-check is q_text_bm25's plan.
    // The r14 gates are the same class again: the manifest-table
    // family's data passes are partitioned parquet writes + the C11
    // audit aggregate, its reads are EXPLICIT-file scans (pruning is
    // driver-structural, no plan to audit), q_snapshot_sql hands
    // Spark the generation's real parquet relation (its plan IS a
    // plain pushed-down scan — spec-asserted PushedFilters), and
    // q_pipeline_incremental composes q_fact_sales' audited plan
    // with the manifest merge
    // The r15/r16 gates stay in the protocol/outcome class: the DML
    // and refs families' data passes are partitioned parquet writes +
    // explicit-file scans (driver-structural pruning), q_sql_dml's
    // statements run exactly those ops behind the parser,
    // q_stream_cdf's per-batch plan is q_snapshot_diff's full-outer
    // join, and the S32 stats-pruned SQL scan is a plain pushed-down
    // parquet plan whose file list shrank at planning time
    // (spec-asserted on the scan's own numFiles metric).
    "q_dedup_containment", "q_text_novelty", "q_text_chi2",
    "q_corpus_budget", "q_profile_skew", "q_clean_validate",
    "q_embed_project")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans of the headline queries\n\n")
    sb.append(s"Generated by `graft.tools.PlanDump` at `$sfDir`. Things to\n")
    sb.append("look for: `PushedFilters`/`ReadSchema` at every scan,\n")
    sb.append("`BroadcastHashJoin` on dimension sides, `WholeStageCodegen`\n")
    sb.append("spans over the hot expressions (including the native\n")
    sb.append("`MinRollingHash`/`VectorDot` kernels). The only\n")
    sb.append("nested-loop joins are the DECLARED ones: the pairwise\n")
    sb.append("D5 correctness baseline (q_dedup_cosine — scale path is\n")
    sb.append("q_dedup_cosine_lsh), the O(n·q) A1 baseline\n")
    sb.append("(q_ann_bruteforce — scale paths are LSH/IVF), and the\n")
    sb.append("nearest-centroid assignment (q_embed_centroid and\n")
    sb.append("q_dedup_semantic's assign stage: every vector × the\n")
    sb.append("BROADCAST centroid set — that product is the definition\n")
    sb.append("of assignment and the right side is centroid-sized;\n")
    sb.append("q_dedup_semantic's PAIR stage is a hash equi-join on\n")
    sb.append("cell, never nested-loop). q_corpus_temperature carries\n")
    sb.append("one more, trivially: the group-count table crossed with\n")
    sb.append("its own ONE-ROW min aggregate (group-cardinality × 1 —\n")
    sb.append("a scalar broadcast, not a pair space).\n")
    sb.append("q_contamination_semantic's nested loop is its DECLARED\n")
    sb.append("production shape: the corpus scanned once against the\n")
    sb.append("BROADCAST benchmark side (eval sets are small by\n")
    sb.append("definition — the D9 argument in embedding space).\n")
    sb.append("q_text_hybrid inherits the IVF centroid-assignment\n")
    sb.append("loops (vectors/queries × the BROADCAST centroid table)\n")
    sb.append("through its dense list — the same benign assignment\n")
    sb.append("class as q_embed_centroid.\n")
    sb.append("The r11/r12 gates add two declared instances:\n")
    sb.append("q_text_chi2's cross join is the token table × its own\n")
    sb.append("ONE-ROW corpus-totals aggregate (the\n")
    sb.append("q_corpus_temperature scalar-broadcast class), and its\n")
    sb.append("global row_number window runs AFTER orderBy+limit(topK)\n")
    sb.append("— ≤ topK rows, driver-bounded, never the vocabulary.\n")
    sb.append("q_embed_project's nested loop is the gate's DECLARED\n")
    sb.append("projected-space all-pairs baseline (queries × corpus,\n")
    sb.append("the A1 class — the production serve is the two-stage\n")
    sb.append("projectedTopKReranked). q_corpus_budget's window is\n")
    sb.append("PARTITIONED by score bucket and filtered to the single\n")
    sb.append("threshold bucket; q_dedup_containment's windows are\n")
    sb.append("per-shingle df counts — no global window anywhere in\n")
    sb.append("the new gates.\n")
    Headline.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
    println(s"[plandump] wrote docs/PLANS.md (${Headline.size} plans)")
    spark.stop()
  }
}
