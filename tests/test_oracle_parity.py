"""Driver-style oracle parity: every registered query vs its DuckDB SQL.

Mimics the driver's correctness gate: run the Spark query and the oracle
SQL on the same parquet tables, sort columns by name, sort rows, compare
values. Floats must match to high precision (both sides round inside the
query, so residual differences indicate a real semantics gap).

The sweep runs at BOTH sf0.001 (fast loop) and sf0.01 (the driver's
correctness-gate scale), so the queries outside the driver's 50-row
window are verified at the driver's own scale factor, not just the
small one. Setting TEST_SF_DIR collapses the matrix to that single SF.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from product_data_pipelining_spark.checks.oracle_compare import (
    dtype_kinds,
    normalize,
)
from product_data_pipelining_spark.io import TPCH_TABLES
from product_data_pipelining_spark.registry import all_queries

QUERIES = all_queries()
ORACLE_CASES = [name for name, spec in QUERIES.items() if spec.oracle is not None]
ROWS_ONLY_CASES = [name for name, spec in QUERIES.items() if spec.oracle is None]

if "TEST_SF_DIR" in os.environ:
    SF_DIRS = [os.environ["TEST_SF_DIR"]]
else:
    SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    SF_DIRS = [d for d in SF_DIRS if os.path.isdir(d)] or [
        "/root/testdata/sf0.001"
    ]


@pytest.fixture(scope="module", params=SF_DIRS, ids=[d.rsplit("/", 1)[-1] for d in SF_DIRS])
def par_sf_dir(request):
    return request.param


@pytest.fixture(scope="module")
def par_ddb(par_sf_dir):
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{par_sf_dir}/{t}.parquet'"
        )
    yield con
    con.close()


# normalize / _canon / _kinds now live in checks.oracle_compare so the
# scale probe's at-scale value checks share the exact same contract
_kinds = dtype_kinds


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_oracle_parity(name, spark, par_ddb, par_sf_dir):
    spec = QUERIES[name]
    got_raw = spec.fn(spark, par_sf_dir).toPandas()
    want_raw = par_ddb.execute(spec.oracle).df()
    got_raw_kinds, want_raw_kinds = _kinds(got_raw), _kinds(want_raw)
    got = normalize(got_raw)
    want = normalize(want_raw)
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns differ: {list(got.columns)} vs {list(want.columns)}"
    )
    kinds_got = [df_kind for df_kind in got_raw_kinds]
    kinds_want = [df_kind for df_kind in want_raw_kinds]
    assert kinds_got == kinds_want, (
        f"{name}: dtype kinds differ (spark vs duck): "
        f"{list(zip(sorted(got.columns), kinds_got, kinds_want))}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    mism = (got != want).any(axis=1)
    if mism.any():
        idx = mism[mism].index[:5]
        detail = "\n".join(
            f"  spark={got.loc[i].to_dict()}\n  duck ={want.loc[i].to_dict()}"
            for i in idx
        )
        raise AssertionError(
            f"{name}: {int(mism.sum())}/{len(got)} rows mismatch:\n{detail}"
        )


def test_a03_null_price_parity(spark, tmp_path_factory):
    """a03's rank-based percentiles must IGNORE NULL ``l_extendedprice``
    (parity with ``F.percentile`` / DuckDB ``quantile_cont``).

    The fixture tables carry no NULL prices, so the standard sweep
    can't see the round-8-ADVICE divergence (NULLs sorting first in an
    ascending row_number window would shift every rank); this test
    injects NULLs into a copy of lineitem and compares both engines on
    it — including one all-NULL group (flag 'R' late dates pattern not
    guaranteed, so the per-row modulus gives mixed + non-trivial
    groups).
    """
    src = SF_DIRS[0]
    tmp = str(tmp_path_factory.mktemp("a03nulls"))
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN l_orderkey % 5 = 0 THEN NULL
                 ELSE l_extendedprice END AS l_extendedprice)
          FROM '{src}/lineitem.parquet'
        ) TO '{tmp}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{tmp}/lineitem.parquet'"
    )
    n_null = con.execute(
        "SELECT COUNT(*) FROM lineitem WHERE l_extendedprice IS NULL"
    ).fetchone()[0]
    assert n_null > 0, "injection produced no NULL prices — test is inert"
    spec = QUERIES["a03_percentile_summary"]
    got = normalize(spec.fn(spark, tmp).toPandas())
    want = normalize(con.execute(spec.oracle).df())
    con.close()
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    mism = (got != want).any(axis=1)
    assert not mism.any(), (
        f"a03 NULL parity: {int(mism.sum())}/{len(got)} rows mismatch:\n"
        + "\n".join(
            f"  spark={got.loc[i].to_dict()}\n  duck ={want.loc[i].to_dict()}"
            for i in mism[mism].index[:5]
        )
    )


@pytest.mark.parametrize("name", ROWS_ONLY_CASES)
def test_rows_only_queries_run(name, spark, par_sf_dir):
    spec = QUERIES[name]
    df = spec.fn(spark, par_sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


@pytest.fixture(scope="module")
def small_codebook_dir(spark, tmp_path_factory):
    """A generated sf0.01 dir: 200 embeddings, so only 29 rows fall in
    the PQ seed range and every codebook has K < PQ_K entries."""
    from product_data_pipelining_spark.sources.generator import generate_scale

    out = str(tmp_path_factory.mktemp("pq") / "sf0.01")
    generate_scale(spark, out, 0.01)
    return out


@pytest.mark.parametrize(
    "name", ["sim06_pq_adc", "sim07_ann_ivfpq", "sim08_ann_ivfpq_rerank"]
)
def test_pq_parity_below_a_full_codebook(name, spark, small_codebook_dir):
    """With a short codebook (K < PQ_K seeds) the encode kernel sizes its
    distance grid by K, and every ADC stage finds code c of subspace m
    at the LUT slot its layout gives (m*K + c packed, m*PQ_K + c in the
    kernel's strided LUT), so the scores equal the oracle's."""
    from product_data_pipelining_spark.checks.oracle_compare import (
        duck_view_sql,
        frames_match,
    )
    from product_data_pipelining_spark.operators.similarity import (
        PQ_K,
        PQ_STRIDE,
    )

    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(duck_view_sql(small_codebook_dir, t))
    seeds = con.execute(
        f"SELECT count(*) FROM embeddings "
        f"WHERE vec_id % {PQ_STRIDE} = 3 AND vec_id < {PQ_STRIDE * PQ_K}"
    ).fetchone()[0]
    assert 0 < seeds < PQ_K, seeds
    spec = QUERIES[name]
    got = spec.fn(spark, small_codebook_dir).toPandas()
    want = con.execute(spec.oracle).df()
    con.close()
    assert len(got) > 0
    ok, why = frames_match(got, want)
    assert ok, f"{name}: {why}"
