"""Pipeline runner: load → staging → dims → fact → marts (dbt replacement).

The reference sequences its DAG with in-process dbt
(``main_pipeline.py:446-477``): ``stg_* → dim_* → fact_prices → mart_*``
with ``--full-refresh`` (every mart rebuilt from scratch). Here the DAG
is toposorted levels of pure DataFrame functions, each level's
independent tables written concurrently (dbt ``threads``), width =
level size, no knob. The models stay lazy logical plans until
materialization, so Catalyst optimizes across layer boundaries (e.g. a
mart's category filter reaches the raw parquet scan through staging and
the fact join).

Load semantics (``main_pipeline.py:326-440``): rows are null-gated (S8)
then upserted with ``INSERT OR REPLACE`` per primary key. On Spark the
upsert is deterministic last-writer-wins
(:func:`..operators.upsert.upsert_last_writer_wins`) keyed like the
reference DDL (``main_pipeline.py:283,297,320``).

Materialization mirrors dbt's config (``dbt_project.yml:33-40``):
staging = never persisted (views); dims/fact/marts = parquet tables,
``mode("overwrite")`` = full refresh. When materializing, downstream
marts re-read the written fact table so the join work is done once, not
re-derived three times. Every read here passes a known schema — the
declared :data:`RAW_SCHEMAS` for raw tables, the written frame's schema
for read-backs — so no read starts a footer-merging inference job.
"""

from __future__ import annotations

import os
import shutil
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.upsert import merge_upsert, upsert_last_writer_wins
from ..session import run_concurrently
from . import dashboard, marts, staging

RAW_TABLES = ("raw_locations", "raw_products", "raw_product_prices")

# The reference DDL (main_pipeline.py:283-320) as Spark types. fetched_at
# is TIMESTAMP_NTZ: the raw parquet stores zone-less microseconds. A raw
# file whose column types differ fails the read instead of drifting.
RAW_SCHEMAS = {
    "raw_locations": (
        "location_id STRING, name STRING, chain STRING, address_line1 STRING,"
        " city STRING, state STRING, zip_code STRING, latitude DOUBLE,"
        " longitude DOUBLE, fetched_at TIMESTAMP_NTZ"
    ),
    "raw_products": (
        "product_id STRING, description STRING, brand STRING,"
        " categories STRING, fetched_at TIMESTAMP_NTZ"
    ),
    "raw_product_prices": (
        "product_id STRING, location_id STRING, item_id STRING, size STRING,"
        " regular_price DECIMAL(10,2), promo_price DECIMAL(10,2),"
        " effective_date STRING, expiration_date STRING,"
        " fulfillment_instore BOOLEAN, fulfillment_delivery BOOLEAN,"
        " fulfillment_curbside BOOLEAN, fulfillment_shiptohome BOOLEAN,"
        " stock_level STRING, fetched_at TIMESTAMP_NTZ"
    ),
}

# (upsert primary key, null-gate column) per raw table — reference DDL
# main_pipeline.py:283 (locations PK), :297 (products PK), :320 (prices
# composite PK); null gates main_pipeline.py:379-380,398-402 (S8).
_LOAD_SPEC = {
    "raw_locations": (("location_id",), "location_id"),
    "raw_products": (("product_id",), "product_id"),
    "raw_product_prices": (
        ("product_id", "location_id", "item_id"),
        "regular_price",
    ),
}

# the materialized DAG levels: each level reads only the levels before it
_DIMS = ("dim_locations", "dim_products")
_MARTS = (
    "mart_category_distribution",
    "mart_location_sales",
    "mart_price_by_category",
)
MATERIALIZED = (*_DIMS, "fact_prices", *_MARTS)


def _read_raw(spark: SparkSession, raw_dir: str, name: str) -> DataFrame:
    return spark.read.schema(RAW_SCHEMAS[name]).parquet(
        os.path.join(raw_dir, f"{name}.parquet")
    )


def _gate_and_upsert(df: DataFrame, name: str, cond: Column | None = None) -> DataFrame:
    """The reference's load rules: null-gate (S8, plus ``cond`` when
    given) then keyed upsert, last ``fetched_at`` wins (S5/S6)."""
    keys, gate = _LOAD_SPEC[name]
    keep = F.col(gate).isNotNull()
    if cond is not None:
        keep = keep & cond
    return upsert_last_writer_wins(
        df.filter(keep), keys, version_col="fetched_at", tiebreak=df.columns
    )


def load_raw(spark: SparkSession, raw_dir: str) -> dict[str, DataFrame]:
    """Read the raw parquet tables and apply the reference's load rules."""
    return {
        name: _gate_and_upsert(_read_raw(spark, raw_dir, name), name)
        for name in RAW_TABLES
    }


def _fact(m: dict[str, DataFrame]) -> DataFrame:
    return marts.fact_prices(m["stg_prices"], m["dim_products"], m["dim_locations"])


def _marts(m: dict[str, DataFrame]) -> dict[str, DataFrame]:
    fact = m["fact_prices"]
    return {
        "mart_category_distribution": marts.mart_category_distribution(fact),
        "mart_location_sales": marts.mart_location_sales(fact, m["dim_locations"]),
        "mart_price_by_category": marts.mart_price_by_category(fact),
    }


def build_models(raw: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Toposorted model build over already-loaded raw DataFrames.

    Pure and lazy — no jobs run until the caller acts on a result.
    """
    m: dict[str, DataFrame] = {}
    m["stg_locations"] = staging.stg_locations(raw["raw_locations"])
    m["stg_products"] = staging.stg_products(raw["raw_products"])
    m["stg_prices"] = staging.stg_prices(raw["raw_product_prices"])
    m["dim_locations"] = marts.dim_locations(m["stg_locations"])
    m["dim_products"] = marts.dim_products(m["stg_products"])
    m["fact_prices"] = _fact(m)
    m.update(_marts(m))
    return m


def _write_level(
    spark: SparkSession, m: dict[str, DataFrame], out_dir: str, names: tuple[str, ...]
) -> None:
    """Write one DAG level's tables concurrently (overwrite) and replace
    each model with a re-read of its parquet."""

    def write(name: str) -> DataFrame:
        path = os.path.join(out_dir, name)
        m[name].write.mode("overwrite").parquet(path)
        return spark.read.schema(m[name].schema).parquet(path)

    m.update(zip(names, run_concurrently(spark, [partial(write, n) for n in names])))


def _materialize_models(
    spark: SparkSession, m: dict[str, DataFrame], out_dir: str
) -> dict[str, DataFrame]:
    """dbt's table-materialization dataflow over built models: write the
    dims, rebuild the fact from their re-reads and write it, rebuild the
    marts from the re-read fact and write them. The fact join executes
    once and the marts scan its parquet output."""
    _write_level(spark, m, out_dir, _DIMS)
    m["fact_prices"] = _fact(m)
    _write_level(spark, m, out_dir, ("fact_prices",))
    m.update(_marts(m))
    _write_level(spark, m, out_dir, _MARTS)
    return m


def run_pipeline(
    spark: SparkSession, raw_dir: str, out_dir: str | None = None
) -> dict[str, DataFrame]:
    """Full-refresh pipeline run (dbt ``run --full-refresh`` analog).

    With ``out_dir`` set, dims/fact/marts are written as parquet
    (overwrite), level by level, and each written table is re-read
    before its dependents are built (:func:`_materialize_models`).
    Without ``out_dir``, returns the lazy DataFrames.
    """
    m = build_models(load_raw(spark, raw_dir))
    if out_dir is None:
        return m
    return _materialize_models(spark, m, out_dir)


def dashboard_queries(m: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """The seven dashboard chart queries over built models (app.py:81-439)."""
    price_rows = dashboard.price_distribution(m["fact_prices"], q1_2026_only=True)
    cvm = dashboard.category_value_map(m["fact_prices"])
    return {
        "price_distribution_q1": price_rows,
        "effective_date_range": dashboard.effective_date_range(m["fact_prices"]),
        "category_median_price_order": dashboard.category_median_price_order(
            dashboard.price_distribution(m["fact_prices"], q1_2026_only=False)
        ),
        "state_price_summary": dashboard.state_price_summary(
            m["mart_location_sales"]
        ),
        "location_map": dashboard.location_map(
            m["mart_location_sales"], m["dim_locations"]
        ),
        "stock_status_mix": dashboard.stock_status_mix(m["fact_prices"]),
        "discount_depth": dashboard.discount_depth(m["fact_prices"]),
        "category_value_map": cvm,
        "value_map_medians": dashboard.value_map_medians(cvm),
    }


def run_incremental(
    spark: SparkSession,
    raw_dir: str,
    out_dir: str,
    since: str,
) -> dict[str, DataFrame]:
    """Incremental refresh: merge new raw rows, rebuild downstream marts.

    The reference only does full refresh (dbt ``--full-refresh``,
    SURVEY.md §2.9); this is the incremental materialization a
    continuously-ingesting deployment needs. Raw rows with
    ``fetched_at > since`` are upserted into the existing raw snapshots
    (MERGE semantics — :func:`..operators.upsert.merge_upsert`), the
    three tables concurrently, then staging/dims/fact/marts rebuild from
    the merged snapshot. Dims and marts are aggregates of the full key
    space, so they rebuild rather than merge — the fact/mart rebuild
    reads the merged parquet, not the original feed, keeping incremental
    cost proportional to snapshot size, never to history length.

    Requires a prior :func:`seed_snapshots` (or ``run_incremental``) to
    have written ``out_dir/snap_raw_*`` snapshots; writes updated
    snapshots back before rebuilding. A table's snapshot is swapped only
    after its merge was written, so a failed merge leaves it intact.
    """

    def merge(name: str) -> DataFrame:
        keys, _ = _LOAD_SPEC[name]
        fresh = _gate_and_upsert(
            _read_raw(spark, raw_dir, name), name, F.col("fetched_at") > F.lit(since)
        )
        snap_path = os.path.join(out_dir, f"snap_{name}")
        snapshot = spark.read.schema(RAW_SCHEMAS[name]).parquet(snap_path)
        merged = merge_upsert(snapshot, fresh, keys)
        tmp = snap_path + "__new"
        merged.write.mode("overwrite").parquet(tmp)
        # swap: re-point the snapshot (atomic-rename territory on a real
        # object store; plain overwrite-by-rename locally)
        shutil.rmtree(snap_path)
        os.rename(tmp, snap_path)
        return spark.read.schema(merged.schema).parquet(snap_path)

    merged = run_concurrently(spark, [partial(merge, n) for n in RAW_TABLES])
    return _materialize_models(spark, build_models(dict(zip(RAW_TABLES, merged))), out_dir)


def seed_snapshots(
    spark: SparkSession, raw_dir: str, out_dir: str, until: str | None = None
) -> None:
    """Write the initial raw snapshots ``run_incremental`` merges into,
    the three tables concurrently.

    ``until`` bounds the seed load (``fetched_at <= until``) so tests
    can replay history as seed + incremental batches.
    """

    cond = None if until is None else F.col("fetched_at") <= F.lit(until)

    def seed(name: str) -> None:
        df = _gate_and_upsert(_read_raw(spark, raw_dir, name), name, cond)
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"snap_{name}"))

    run_concurrently(spark, [partial(seed, n) for n in RAW_TABLES])
