"""The two postures and the process-global caches across a restart.

Both tests run in a child process: entering the serving posture, or
stopping the SparkContext, would otherwise change the one session the
rest of the suite shares.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

_BENCH_IMPORT = r"""
import json, os
graft = lambda: sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
before = graft()
from product_data_pipelining_spark import session
batch = vars(session.posture())
import bench
print(json.dumps({"before": before, "after": graft(), "batch": batch,
                  "serving": vars(session.posture()), "cpus": bench.CPUS}))
"""


def _child(code: str, env: dict[str, str], *args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", code, *args], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _clean_env(**graft: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(graft, PYTHONPATH=str(ROOT))
    return env


def test_importing_bench_enters_the_serving_posture_without_touching_env(tmp_path):
    # perfbench's order: the SF dir does not exist yet when bench is
    # imported, so the partition count is min(CPUS, 8)
    sf_dir = str(tmp_path / "not_generated_yet")
    for cpus, parts in (("4", 4), ("16", 8)):
        got = _child(_BENCH_IMPORT, _clean_env(
            SPARK_GRAFT_CPUS=cpus, SPARK_GRAFT_SF_DIR=sf_dir))
        assert got["before"] == ["SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR"]
        assert got["after"] == got["before"]
        assert got["cpus"] == int(cpus)
        assert got["batch"] == {"aqe": True, "shuffle_partitions": None,
                                "cache_tables": False, "plan_cache": False}
        assert got["serving"] == {"aqe": False, "shuffle_partitions": parts,
                                  "cache_tables": True, "plan_cache": True}


_RESTART = r"""
import json, sys
import duckdb
from product_data_pipelining_spark import io, registry, session
from product_data_pipelining_spark.checks.oracle_compare import (
    duck_view_sql, frames_match)

sf_dir, queries = sys.argv[1], sys.argv[2:]
specs = registry.all_queries()
con = duckdb.connect()
for t in io.TPCH_TABLES:
    con.execute(duck_view_sql(sf_dir, t))
session.serve(sf_dir)
runs = []
for _ in range(2):
    spark = session.get_spark(app_name="restart", cpus=2)
    app = spark.sparkContext.applicationId
    frames = {q: specs[q].fn(spark, sf_dir).toPandas() for q in queries}
    runs.append({
        "app": app,
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        "partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "tables": sorted(k[2] for k in io._TABLE_CACHE if k[0] == app),
        "plans": sorted(k[2] for k in registry._PLAN_CACHE if k[0] == app),
        "live": sorted(k[1] for k in io._LIVE if k[0] == app),
        "vs_oracle": {q: frames_match(frames[q], con.execute(specs[q].oracle).df())
                      for q in queries},
        "frames": frames,
    })
    spark.stop()
first, second = runs
vs_first = {q: frames_match(second["frames"][q], first["frames"][q])
            for q in queries}
for run in runs:
    del run["frames"]
print(json.dumps({"runs": runs, "vs_first": vs_first}))
"""


def test_caches_survive_a_session_restart(sf_dir):
    """Serve three queries that each fill a process-global cache, stop
    the SparkContext, start a new one in the same process and serve them
    again: the new context must rebuild its own entries (keyed by its
    applicationId), never reuse or release the stopped one's, and return
    the same rows, equal to the DuckDB oracles."""
    queries = [
        "tpch_q1_pricing_summary",  # io._TABLE_CACHE
        "sim01_ann_bruteforce_topk",  # io.swap_live broadcast
        "a03_percentile_summary",  # io.swap_live persisted frame
    ]
    # 16 cores' worth of posture for a 2-core session: the sized count
    # (8 for a tiny SF) differs from the batch default (one per core)
    env = _clean_env(SPARK_GRAFT_CPUS="16", SPARK_DRIVER_MEM="1g")
    got = _child(_RESTART, env, sf_dir, *queries)
    first, second = got["runs"]
    assert first["app"] != second["app"]
    for run in got["runs"]:
        assert (run["aqe"], run["partitions"]) == ("false", "8")
        assert run["plans"] == sorted(queries)
        assert "lineitem" in run["tables"]
        assert {"a03_g", "sim01"} <= set(run["live"])
        assert all(ok for ok, _ in run["vs_oracle"].values()), run["vs_oracle"]
    assert all(ok for ok, _ in got["vs_first"].values()), got["vs_first"]
