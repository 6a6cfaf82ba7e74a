"""PLANS.md generator: formatted physical plans of the headline queries.

Run ``python -m product_data_pipelining_spark.plans.report`` to refresh.
Each section shows the plan properties the 100 TB design is judged on —
pushed filters, read schemas (column pruning), join strategies, partial
aggregation, exchange count — extracted from ``explain("formatted")``
output of the cold (AQE-on, uncached) plan, i.e. exactly what a cluster
run would compile.
"""

from __future__ import annotations

import re
import sys


# The plan-report set: a larger list than bench.HEADLINE (the timed
# set), and a different one.
PLAN_REPORT_QUERIES = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_revenue",
    "tpch_q11_important_stock",
    "a03_percentile_summary",
    "a03x_approx_percentile_summary",
    "a11_share_of_group_window",
    "s05_upsert_last_writer_wins",
    "ev02_sessionize",
    "ev04_sliding_windows",
    "dd01_exact_dedup",
    "dd04_minhash_lsh_pairs",
    "dd09_minhash_lsh_pairs_xxh",
    "dd07_decontaminate",
    "tp01_scd2_history",
    "tx02_quality_score",
    "tx05_winnow_fingerprints",
    "tx09_repetition_ratio",
    "sim01_ann_bruteforce_topk",
    "smp03_priority_sample_topk",
    "chk01_referential_integrity",
    "a18_topk_per_group",
    "pr02_numeric_stats",
    "tx10_tfidf_topterms",
    "cg01_cogroup_reconcile",
    "ev05_funnel_conversion",
    "ev06_retention_cohorts",
    "chk02_outlier_zscore",
    "smp04_token_budget_pack",
    "tx11_corpus_filter_pipeline",
    "dd08_url_canonical_dedup",
    "dd12_span_coverage",
    "dd13_semantic_dedup",
    "sim06_pq_adc",
    "sim07_ann_ivfpq",
    "sim08_ann_ivfpq_rerank",
    "tx13_unigram_logprob",
    "smp08_weighted_sample",
    "pr05_correlation_matrix",
    "tp03_ohlc_bars",
    "chk03_outlier_robust_mad",
    "ev07_interarrival_gaps",
    "a21_theta_audience_overlap",
    "a22_kll_quantile_rollup",
    "a19_argmax_per_group",
    "dt02_calendar_dimension",
    "pr04_winsorize",
    "smp05_per_source_quota",
    "ev08_rate_anomaly",
    "tx14_dsir_importance",
    "a23_countmin_frequency",
    "chk05_distribution_drift",
    "sim10_mmr_diverse_topk",
]


def main(out_path: str = "PLANS.md", sf_dir: str = "/root/testdata/sf0.001") -> None:
    from ..registry import all_queries
    from ..session import get_spark
    from .inspect import (
        exchange_count,
        has_partial_aggregation,
        join_kinds,
        physical_plan,
        scans,
    )

    spark = get_spark(app_name="plan-report", cpus=8)
    specs = all_queries()
    lines = [
        "# PLANS — headline physical plans (cold, AQE-on)",
        "",
        "Generated by `python -m product_data_pipelining_spark.plans.report`.",
        "Per query: the scale-relevant plan properties, then the operator",
        "tree (`simpleString` form, scan details elided to their pushdown",
        "facts). Regenerate after any operator change; `tests/test_plans.py`",
        "pins the load-bearing properties so regressions fail before this",
        "file goes stale.",
        "",
    ]
    for name in PLAN_REPORT_QUERIES:
        df = specs[name].fn(spark, sf_dir)
        kinds = join_kinds(df) or ["(none)"]
        sc = scans(df)
        lines += [
            f"## {name}",
            "",
            f"- joins: {', '.join(kinds)}",
            f"- shuffle exchanges: {exchange_count(df)}",
            f"- map-side partial aggregation: {has_partial_aggregation(df)}",
        ]
        for i, s in enumerate(sc):
            lines.append(
                f"- scan {i}: pushed=[{s['pushed_filters']}] "
                f"schema={s['read_schema']}"
            )
        tree = physical_plan(df)
        # elide the verbose FileScan lines — their facts are listed above
        tree = re.sub(r"(FileScan parquet \[[^\]]*\]).*", r"\1 ...", tree)
        lines += ["", "```", tree.rstrip(), "```", ""]
    with open(out_path, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_path} ({len(PLAN_REPORT_QUERIES)} queries)")
    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:])
