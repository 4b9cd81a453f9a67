"""Physical-plan audit for the headline queries -> PLANS.md.

For every HEADLINE and EXTRA (heavy-family) query, render the formatted
plan and extract the scale-relevant facts:

  - parquet scans: pushed filters + read schema (column pruning)
  - exchange count (shuffles) and broadcast joins
  - whole-stage-codegen span count vs total operators
  - Python boundaries (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas)

The output is a reviewable artifact: re-run after plan-affecting changes
and diff. Usage:

    python tools/plan_audit.py [--sf /root/testdata/sf0.1] [--out PLANS.md]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# the analysis itself lives in the engine (dataflow_spark.plans) so
# pipeline authors can assert it in code; this tool renders PLANS.md
from dataflow_spark.plans import audit, formatted_plan  # noqa: E402


HEADLINE = [
    # relational core
    "q1_pricing_summary", "q3_shipping_priority", "q5_regional_revenue",
    "q_top_customers", "q_window_rank", "q_rollup_lineitem",
    "q_semi_join_orders", "q_anti_join_customers",
    # events / time
    "q_events_hourly", "q_sessionize", "q_count_distinct_users",
    # text pipeline
    "q_explode_words", "t_quality_score", "t_langid", "t_token_count",
    "t_ngram_ratio",
    # dedup
    "d_exact_hash", "d_ccnet_norm", "d_minhash_lsh", "d_simhash",
    # similarity
    "s_knn_brute", "s_knn_lsh",
]

# non-headline queries whose plan shape carries the scale story
EXTRA = [
    "q_pipeline_training_prep", "q_bucketed_join", "q_salted_agg",
    "q_session_windows", "d_semantic", "s_knn_ivf",
    "q_corpus_profile", "d_ngram_jaccard",
    "q_asof_join", "q_range_join", "q_hypertable_rollup",
    "x_decontaminate", "q_domain_mixture", "d_incremental_hash",
    "r_segment_dedup", "q_pipeline_corpus_curation",
    "t_tfidf_keywords", "s_centroid_sim", "x_percentile_filter",
    "q_rolling_features", "q_funnel", "q_zscore_outliers",
    "d_minhash_clusters", "q_cohort_retention", "q_table_profile",
    "q_expectations", "q_bm25_topk", "q_global_shuffle",
    "q_fuzzy_join", "q_kmeans", "q_snapshot_diff",
    "q_upsert_latest", "q_connected_components", "q_pagerank",
    "q_pct_rank", "q_histogram", "q_rolling_anomaly",
    "d_incremental_minhash", "q_weighted_sample",
    "q_pipeline_code_filter", "q_pipeline_text_filter",
    "q_pipeline_sft_filter",
    # substring-duplicate family + DSIR
    "d_substring_pairs", "d_substring_dedup", "d_substring_cut",
    "x_dsir_weights", "x_dsir_select",
    # bloom prefilter, heavy hitters, source overlap
    "d_bloom_incremental", "q_heavy_hitters", "q_heavy_weighted",
    "q_heavy_ngrams", "q_source_overlap", "q_heavy_by_source",
]


def audit_one(name: str, plan: str) -> dict:
    return {"query": name, **audit(None, plan)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="PLANS.md")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from dataflow_spark import get_spark

    qs = entrymod.queries()
    names = HEADLINE + EXTRA
    # a renamed query must fail the audit, not drop out of PLANS.md
    missing = [x for x in names if x not in qs]
    if missing:
        raise SystemExit(f"not in __spark_entry__.queries(): {missing}")

    # AQE stays ON in production; the audit disables it so the formatted
    # plan shows final codegen ids (AQE's initial plan hides them)
    spark = get_spark("plan-audit",
                      extra_conf={"spark.sql.adaptive.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan audit of the bench headline queries",
        "",
        f"Generated by `python tools/plan_audit.py --sf {args.sf}`. Facts",
        "extracted from `df.explain('formatted')`; re-run and diff after any",
        "plan-affecting change. Red flags this audit guards against: scans",
        "reading more columns than the query needs, filters not pushed to",
        "parquet, row-at-a-time Python (`BatchEvalPython`), and shuffles",
        "where a broadcast would do.",
        "",
    ]
    red_flags = []
    for name in names:
        df = qs[name](spark, args.sf)
        a = audit_one(name, formatted_plan(df))
        lines.append(f"## {name}")
        lines.append("")
        for s in a["scans"]:
            cols = ",".join(s["columns"])
            pushed = s["pushed"] or "none"
            lines.append(f"- scan `{s['table']}`: columns [{cols}]; pushed filters: {pushed}")
        lines.append(
            f"- joins: {a['broadcasts']} broadcast, {a['sort_merge_joins']} sort-merge; "
            f"shuffles: {a['exchanges']}; codegen spans: {a['codegen_spans']}")
        if a["python_ops"]:
            lines.append(f"- python boundary: {', '.join(a['python_ops'])} (Arrow-batched)")
        if a["row_python"]:
            lines.append("- **RED FLAG: row-at-a-time BatchEvalPython**")
            red_flags.append(name)
        lines.append("")
    lines.append("## Summary")
    lines.append("")
    lines.append(f"- queries audited: {len(names)} "
                 f"({len(HEADLINE)} headline + {len(EXTRA)} heavy-family)")
    lines.append(f"- row-at-a-time Python: {len(red_flags)}"
                 + (f" ({', '.join(red_flags)})" if red_flags else " (none)"))
    lines.append("")
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {args.out}; red flags: {red_flags or 'none'}")
    spark.stop()


if __name__ == "__main__":
    main()
