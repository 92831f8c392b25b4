"""Plan evidence, regenerated on demand.

    python scripts/dump_plans.py
        PLANS.md for the headline queries: per query — shuffle-exchange
        count, broadcast joins, pushed filters, scan column pruning,
        codegen spans.  The '100 TB would this hold' review,
        machine-generated so it never drifts from the code.

    python scripts/dump_plans.py --tag T name [name ...]
        the formatted explain of each named registered query, written to
        plans/T/<name>.txt (e.g. run in two checkouts with tags
        ``before`` and ``after`` and diff the directories).

Both run the queries on the fixture directory in SPARK_GRAFT_SF_DIR
(default: the sf0.01 fixtures, as check_oracles.py).
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def dump_tagged(spark, tag, names):
    """Write each named query's formatted explain to plans/<tag>/<name>.txt."""
    from pdtable_spark.queries.suite import QUERIES

    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


def main():
    from pdtable_spark.session import get_session
    from bench import HEADLINE
    from pdtable_spark.queries.suite import QUERIES

    args = sys.argv[1:]
    if args and (args[0] != "--tag" or len(args) < 3):
        sys.exit("usage: dump_plans.py [--tag T name [name ...]]")
    unknown = [n for n in args[2:] if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = get_session("plan-dump", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    if args:
        dump_tagged(spark, args[1], args[2:])
        return

    # beyond the bench headline: the scale-design queries worth plan review
    # (streaming queries excluded — their evidence is the availableNow
    # batch-equivalence oracles, not a static batch plan)
    extra = [
        "q7_nation_volume",
        "q9_product_profit",
        "simhash_near_dups",
        "ngram_jaccard_pairs",
        "embedding_lsh_topk",
        "embedding_ivf_topk",
        "embedding_near_dups",
        "text_pii_redact",
        "pipeline_clean_corpus",
        "q11_part_value",
        "q16_supplier_part_counts",
        "q20_excess_suppliers",
        "q21_late_sole_supplier",
        "pipeline_stratified_sample",
        "pipeline_source_stats",
        "q_user_retention",
        "q_events_outliers",
        "q_events_interpolate",
        "q_fuzzy_part_names",
        "q_events_rolling",
        "q_customer_quartiles",
        "pipeline_pack_budget",
        "q_price_trend_by_brand",
        "pipeline_mix_report",
        "text_tfidf_agg",
        "dedup_incremental",
        "dedup_incremental_verified",
        "dedup_keep_best",
        "text_classifier_filter",
        "embedding_semantic_dedup",
        "embedding_lsh_filtered",
        "pipeline_apply_mixture",
        "pipeline_leakage_safe_split",
        "pipeline_source_overlap",
        "dedup_normalized",
        "dedup_spans",
        "embedding_pq_topk",
        "embedding_pq_refined",
        "text_ngram_novelty",
        "q_user_skew_report",
        "text_gopher_rules",
        "minhash_estimate_error",
        "q_label_centroids",
        "pipeline_dataset_card",
        "doc_cdc_chunks",
        "embedding_ivf_recall",
        "embedding_pq_recall",
        "text_repetition_signals",
        "text_c4_rules",
        "text_blocklist_filter",
        "pipeline_drift_report",
        "pipeline_modern_recipe",
        "pipeline_score_calibration",
        "text_bm25_topk",
        "pipeline_dsir_weights",
        "hybrid_rrf_topk",
        "text_line_dedup",
        "text_common_lines",
        "pipeline_threshold_sweep",
        "embedding_cluster_profile",
        "embedding_cluster_sample",
        "pipeline_drift_psi",
        "pipeline_numeric_drift",
        "text_char_entropy",
        "embedding_cluster_drift",
        "pipeline_curation_funnel",
        "pipeline_bloom_screen",
        "embedding_hard_negatives",
        "embedding_label_propagation",
        "embedding_truncation_recall",
        "embedding_hard_negative_recall",
        "pipeline_decon_funnel",
        "multimodal_phash_dups",
        "pipeline_epochs_plan",
        "pipeline_semantic_pack",
        "pipeline_uncertainty_sample",
        "text_winnow_fingerprints",
        "dedup_winnow_pairs",
        "pipeline_source_cap",
        "text_vocab_coverage",
        "pipeline_k_anonymize",
        "pipeline_anonymity_report",
        "dedup_containment_pairs",
        "pipeline_snapshot_diff",
        "pipeline_facade_ops",
        "text_vocab_drift",
        "embedding_label_prop_agreement",
        "pipeline_novelty_ledger",
        "embedding_margin_mining",
        "text_distinct_ngrams",
        "pipeline_source_divergence",
        "pipeline_quantile_ledger",
        "embedding_sq_recall",
        "pipeline_forget_audit",
        "pipeline_filter_agreement",
        "text_collocations",
        "embedding_gram",
        "embedding_margin_agreement",
        "embedding_pca_project",
        "pipeline_heavy_hitters",
        "text_lm_bigram_nll",
        "multimodal_image_meta",
        "q22_idle_customers",
        "pipeline_model_quality_recipe",
        "multimodal_audio_meta",
        "multimodal_video_meta",
        "embedding_gram_ledger",
        "lake_zorder_cells",
        "pipeline_column_profile",
        "pipeline_json_profile",
        "lake_pruned_read",
        "embedding_ivf_staleness",
        "pipeline_json_extract_typed",
        "pipeline_json_infer_plan",
        "lake_hilbert_cells",
        "pipeline_json_profile_diff",
        "lake_pruned_semi_read",
        "lake_bloom_pruned_read",
        "pipeline_e2e_curation",
        "lake_zone_refresh_read",
        "lake_bloom_refresh_read",
        "lake_compact_refresh_read",
        "dedup_skewed_buckets",
        "pipeline_shard_export",
        "q_bucketed_colocated_join",
        "pipeline_pack_partitioned",
        "lake_manifest_read",
        "lake_manifest_bloom_read",
        "lake_semi_snapshot_keys",
        "lake_manifest_diff",
        "pipeline_curriculum",
        "pipeline_curriculum_by_source",
    ]

    out = [
        "# PLANS — physical-plan evidence for the headline queries",
        "",
        f"Generated by `scripts/dump_plans.py` at {SF_DIR} (final adaptive plans —",
        "executed, AQE conversions applied).",
        "",
        "| query | shuffles | broadcast joins | sort-merge joins | pushed filters | lint |",
        "|---|---|---|---|---|---|",
    ]
    from pdtable_spark.plans import plan_lint

    details = []
    lint_errors = []
    for name in HEADLINE + extra:
        df = QUERIES[name](spark, SF_DIR)
        formatted = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # run THIS frame so its plan is the FINAL adaptive one (AQE converts
        # unhinted dimension joins to broadcast at runtime; the static plan
        # would overcount shuffles/SMJs for every unhinted edge).  collect(),
        # not count(): count() builds a different plan and leaves this one
        # unexecuted.  Results are aggregate-sized at sf0.01.
        df.collect()
        plan = (
            df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        n_shuffle = len(re.findall(r"Exchange hashpartitioning", plan))
        n_bhj = len(re.findall(r"BroadcastHashJoin", plan))
        n_smj = len(re.findall(r"SortMergeJoin", plan))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", formatted)
        n_pushed = sum(1 for p in pushed if p.strip())
        # the automated gate: error-severity lint findings (row-Python
        # eval, unbounded cartesians) fail this script — the per-query
        # plan contracts in tests/test_plans.py pin shapes; this sweeps
        # the whole evidence set every regeneration
        findings = plan_lint(df)
        errs = [f for f in findings if f["severity"] == "error"]
        lint_errors.extend((name, f) for f in errs)
        lint_cell = "ERROR" if errs else "ok"
        out.append(
            f"| {name} | {n_shuffle} | {n_bhj} | {n_smj} | "
            f"{n_pushed} scan(s) with pushdown | {lint_cell} |"
        )
        # per-query detail: the scan lines (pushdown + read schema width)
        scans = re.findall(
            r"ReadSchema: struct<([^>]*)>", formatted
        )
        widths = ", ".join(str(len(s.split(","))) for s in scans) or "-"
        details.append(f"### {name}\n\nscan column counts: [{widths}]")
        for p in pushed:
            if p.strip():
                details.append(f"- pushed: `{p.strip()[:140]}`")
        details.append("")

    out.append("")
    out.append(
        "Counts reflect each query's FINAL adaptive plan (executed at sf0.01): AQE has already converted eligible joins to broadcast — an exchange feeding a converted broadcast still appears in the count as a local-read shuffle stage. SF-proportional sides (customer/supplier/part) are deliberately unhinted, so the same code degrades to shuffle joins when they outgrow the broadcast threshold at 100 TB; only bounded-size sides (nation/region, post-aggregate tiny frames, query sets) carry explicit hints. Python-path queries (multimodal_features) show ArrowEvalPython / mapInPandas stages instead of codegen.\n\n"

        "Hot-bucket-guarded operators (simhash_near_dups, minhash_candidates, "
        "embedding_near_dups) print inflated static counts: the small-bucket "
        "and join-fallback branches each list their upstream exchanges, but at "
        "runtime AQE's shuffle-stage cache materializes the shared signature "
        "pipeline once (measured: guard on vs off within noise at sf0.1 — "
        "5.25s/4.32s simhash, 1.53s/1.59s minhash).\n"
    )
    out.extend(details)
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote PLANS.md")
    if lint_errors:
        for name, f in lint_errors:
            print(f"LINT ERROR {name}: {f['code']} — {f['detail']}")
        sys.exit(1)


if __name__ == "__main__":
    main()
