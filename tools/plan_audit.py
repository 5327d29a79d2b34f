"""Generate PLANS.md: a physical-plan audit of the headline queries.

For each query: shuffle count (hash/range), broadcasts, join strategies,
WholeStageCodegen span count, Python (Arrow) stages, and top-k
short-circuits — the properties that decide 100 TB behavior. Run after any
operator change; diff PLANS.md to see exactly which plans moved.

    python tools/plan_audit.py          # rewrites PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDIT = [
    "search_pipeline",
    "search_rerank",
    "knn_batch_topk",
    "ann_ivf_pruned",
    "pricing_summary",
    "shipping_priority",
    "acctbal_rollup",
    "sessionize_events",
    "tumbling_hourly_events",
    "asof_event_order",
    "user_funnel_stages",
    "chunk_fixed_stride",
    "embed_hashed_features",
    "index_build_pipeline",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_incremental_lsh",
    "dedup_clusters",
    "dedup_substring_spans",
    "dedup_semantic_prune",
    "knn_pq_adc_topk",
    "ann_pq_recall",
    "heavy_hitters_cms",
    "bloom_prefilter_decontam",
    "ewma_per_user",
    "incremental_agg_state",
    "dedup_incremental_substring",
    "search_mmr_diversify",
    "zorder_layout_ranges",
    "cross_nation_volume",
    "lonely_late_suppliers",
    "line_dedup_boilerplate",
    "bpe_tokenize_counts",
    "q4_priority_count",
    "q17_small_quantity_revenue",
    "q20_excess_suppliers",
    "fuzzy_join_titles",
    "fuzzy_incremental_pairs",
    "cohort_retention_daily",
    "event_transition_matrix",
    "kn_bigram_stats",
    "multimodal_resize",
    "corpus_curation_pipeline",
    "text_quality_score",
    "multimodal_frame_sample",
    "rag_prompt_assembly",
    "rag_citations_html",
    "kmeans_lloyd",
    "sample_mixture_temperature",
    "embed_random_projection",
    "pagerank_suppliers",
    "knn_ivfpq_residual_topk",
    "events_resample_hourly",
    "bpe_pair_counts",
    "dedup_keep_best",
    "table_snapshot_diff",
    "dq_constraint_report",
    "ann_ivf_kmeans_recall",
    "bigram_coverage_score",
    "sample_weighted_pps",
    "dedup_containment_pairs",
    "search_prf_expansion",
    "multimodal_frame_dedup",
    "multimodal_audio_loudest_window",
    "triangle_count_parts",
    "multimodal_incremental_frame_dedup",
    "kcore_peel_trajectory",
    "butterfly_supplier_pairs",
    "butterfly_sampled_quality",
    "triangle_delta_incremental",
    "graph_cohesion_summary",
    "media_curation_pipeline",
    "collocations_pmi",
    # round 9
    "ann_pq_trained_recall",
    "pagerank_directed_dangling",
    "perceptron_quality_train",
    "classifier_curation_pipeline",
    "pack_training_sequences",
    "scd2_customer_history",
    "phrase_search_positions",
    "proximity_search_near",
    "covisitation_topk",
    "lpa_communities",
    "cc_luhn_detection",
    "knn_pq_filtered_topk",
    "multimodal_frame_sample",
    "pagerank_weighted_suppliers",
    # round 10
    "bm25_wand_topk",
    "kn_fluency_score",
    "triplet_semihard_mining",
    "dedup_cdc_chunks",
    "key_skew_diagnostics",
    "attribution_multi_touch",
    # round 11
    "bm25_index_topk",
    "bm25_index_wand_topk",
    "bm25_blockmax_skewed_topk",
    "phrase_search_indexed",
    "knn_graph_blocked",
    "knn_graph_recall",
    "dedup_clusters_knn_graph",
    "kn_trigram_fluency",
    "dsir_importance_sample",
    "curation_mix_manifest",
    "knn_graph_kmeans_recall",
    # round 12
    "knn_hamming_topk",
    "ann_hamming_recall",
    "gopher_quality_battery",
    "ccnet_perplexity_buckets",
    "bpe_tokenize_from_artifact",
    "curation_gopher_ccnet",
    "image_dhash_neardup",
    "audio_fingerprint_neardup",
    "cusum_drift_detection",
    # round 13
    "tokenize_pack_pipeline",
    "bpe_sample_train_merges",
    "video_dhash_neardup",
    "audio_offset_fingerprint_neardup",
    "image_dhash_incremental",
    "ccnet_perplexity_buckets_approx",
    # round 15 (VERDICT r14 #2): every r14-window query gets a row — the
    # r14 headline work plus older window members that predated the tool
    "llm_corpus_pipeline",
    "audio_offset_incremental",
    "video_frameset_neardup",
    "pii_scrub_battery",
    "c4_line_filter_battery",
    "scrub_filter_pipeline",
    "decontaminate_ngram",
    "doc_profile",
    "hybrid_rrf_search",
    "ingest_parse_documents",
    "null_semantics_agg",
    "price_quantiles_per_segment",
    "quota_per_source",
    "salted_hot_key_agg",
    "corpus_admission_batch",
]


def audit_one(name: str, plan: str) -> dict[str, object]:
    lines = plan.splitlines()
    def count(pat: str) -> int:
        return sum(1 for l in lines if re.search(pat, l))

    return {
        "query": name,
        "shuffles": count(
            r"Exchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)"
        ),
        "broadcasts": count(r"BroadcastExchange"),
        "bhj": count(r"BroadcastHashJoin"),
        "smj": count(r"SortMergeJoin"),
        # wscg is filled by main() from the codegen-mode explain
        "python": count(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"),
        "topk": count(r"TakeOrderedAndProject"),
        "wgl": count(r"WindowGroupLimit"),
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    from vector_db_light_spark.obs import profile
    from vector_db_light_spark.plans.explain import explain_string
    from vector_db_light_spark.registry import QUERIES
    from vector_db_light_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # Static plans for the audit: AQE wraps everything in AdaptiveSparkPlan
    # and defers join strategy / codegen until execution, which hides the
    # marks this report counts. The static plan is what Catalyst commits to
    # before runtime refinement — the right thing to diff.
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    rows = []
    for name in AUDIT:
        # Checkpoint BUILD-job accounting (VERDICT r15 #7): queries that
        # checkpoint a shared subtree at construction execute that
        # subtree's shuffles in a build job the final plan never shows, so
        # a query that GAINS a checkpoint would look cheaper in this report
        # (the kn_fluency 3->5 artifact). Every frame the profile recorded
        # as built is audited into the per-query build column.
        with profile(name) as rec:
            df = QUERIES[name](spark, sf_dir)
        row = audit_one(name, explain_string(df, mode="simple"))
        total = {"shuffles": 0, "broadcasts": 0, "smj": 0}
        for _, _, frame in rec.builds:
            sub = audit_one("_build", explain_string(frame, mode="simple"))
            for k in total:
                total[k] += sub[k]
        row["build"] = (
            "{}ck/{shuffles}sh/{broadcasts}bc/{smj}smj".format(len(rec.builds), **total)
            if rec.builds
            else "-"
        )
        # codegen-mode explain compiles the plan and reports the subtree
        # count directly ("Found N WholeStageCodegen subtrees") — the
        # simple/adaptive plan string hides the marks until execution.
        m = re.search(
            r"Found (\d+) WholeStageCodegen subtrees",
            explain_string(df, mode="codegen"),
        )
        row["wscg"] = int(m.group(1)) if m else 0
        rows.append(row)

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(here, "PLANS.md")
    with open(out, "w") as f:
        f.write(
            "# Physical-plan audit (generated by tools/plan_audit.py)\n\n"
            f"Scale factor dir: `{sf_dir}`. Columns: shuffle exchanges, "
            "broadcast exchanges, BroadcastHashJoin / SortMergeJoin counts, "
            "distinct WholeStageCodegen spans, Arrow/Python stages, "
            "TakeOrderedAndProject (top-k short-circuit), WindowGroupLimit "
            "nodes. SortMergeJoin on a retrieval path or a shuffle count "
            "that grows with a refactor is a regression — diff this file.\n"
            "Queries that localCheckpoint a shared subtree at construction "
            "show only the post-checkpoint plan in the main columns; the "
            "`build` column (r16, VERDICT r15 #7) audits the checkpoint "
            "BUILD jobs separately as "
            "checkpoints/shuffles/broadcasts/SortMergeJoins, so totals "
            "stay comparable when a refactor moves work across a "
            "checkpoint boundary.\n\n"
            "| query | shuffles | broadcasts | BHJ | SMJ | WSCG | python | top-k | WGL | build |\n"
            "|---|---|---|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write(
                "| {query} | {shuffles} | {broadcasts} | {bhj} | {smj} "
                "| {wscg} | {python} | {topk} | {wgl} | {build} |\n".format(**r)
            )
    print(f"wrote {out} ({len(rows)} queries)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
