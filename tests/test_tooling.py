"""Spark-free tests of the measurement tooling and cached-state lifecycle:
``scripts/ab.py``'s pure parts, ``bench.py``'s mirror decision and
``io.swap_live``. None of them starts Spark or writes into the repo."""

from __future__ import annotations

import os
import sys
from pathlib import Path
from types import SimpleNamespace
from unittest import mock

import pandas as pd
import pytest

from product_data_pipelining_spark import io

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "scripts"))

import ab  # noqa: E402

PLAN = (
    "*(2) Project [x#12L]\n"
    "+- Exchange hashpartitioning(x#12L, 8), ENSURE_REQUIREMENTS, [plan_id=7]"
)
OTHER_PLAN = "*(1) Project [x#3L]\n+- BroadcastExchange [plan_id=5]"


def test_ab_parses_arms():
    assert ab.parse_arm("75d5d2c~1") == ("75d5d2c~1", {})
    assert ab.parse_arm(".:SPARK_GRAFT_TEXT_ARROW=0") == (
        ".", {"SPARK_GRAFT_TEXT_ARROW": "0"}
    )
    assert ab.parse_arm("HEAD:A=1,B=") == ("HEAD", {"A": "1", "B": ""})
    for bad in (":A=1", ".:A", ".:=1"):
        with pytest.raises(ValueError):
            ab.parse_arm(bad)


def test_ab_alternates_the_leading_arm():
    assert [ab.lead(rep) for rep in range(4)] == [
        ("a", "b"), ("b", "a"), ("a", "b"), ("b", "a"),
    ]


def test_ab_refuses_arms_that_plan_identically():
    frames = {arm: {"q": pd.DataFrame({"x": [1]})} for arm in ab.ARMS}
    # the same plan from another process: only its ids differ
    same = PLAN.replace("#12", "#40").replace("plan_id=7", "plan_id=93")
    with pytest.raises(ab.Refused, match="plans identical for") as refused:
        ab.preflight({"a": {"q": PLAN}, "b": {"q": same}}, frames)
    # the outputs were still compared, and the refusal says they matched
    assert (refused.value.same, refused.value.differ) == (["q"], {})


def test_ab_refuses_to_time_differing_outputs():
    plans = {"a": {"q": PLAN}, "b": {"q": OTHER_PLAN}}
    got = pd.DataFrame({"x": [1, 2]})
    with pytest.raises(ab.Refused, match="outputs differ for") as refused:
        ab.preflight(
            plans, {"a": {"q": got}, "b": {"q": pd.DataFrame({"x": [1, 3]})}}
        )
    assert refused.value.same == [] and list(refused.value.differ) == ["q"]
    # row order is not a difference
    ab.preflight(plans, {"a": {"q": got}, "b": {"q": got.iloc[::-1]}})


def test_bench_mirrors_only_a_full_headline_run_at_the_default_sf(
    tmp_path, serving_posture
):
    # importing bench enters the serving posture, which the fixture
    # leaves; SPARK_GRAFT_ONLY would restrict or reject its HEADLINE
    with mock.patch.dict(os.environ):
        os.environ.pop("SPARK_GRAFT_ONLY", None)
        import bench

    last = str(ROOT / "BENCH_LAST.json")
    assert bench.mirror_target({}) == last
    assert bench.mirror_target({"SPARK_GRAFT_SF_DIR": bench.DEFAULT_SF_DIR}) == last
    assert bench.mirror_target({"SPARK_GRAFT_ONLY": "sim06_pq_adc"}) is None
    assert bench.mirror_target({"SPARK_GRAFT_SF_DIR": "/tmp/sf1"}) is None
    assert bench.mirror_target({"SPARK_GRAFT_SKIP_DUCKDB": "1"}) is None
    assert bench.mirror_target({"SPARK_GRAFT_REPEATS": "1"}) is None
    assert bench.mirror_target({"SPARK_GRAFT_REPEATS": "5"}) == last
    explicit = str(tmp_path / "mirror.json")
    assert bench.mirror_target({
        "SPARK_GRAFT_BENCH_MIRROR": explicit,
        "SPARK_GRAFT_ONLY": "sim06_pq_adc",
        "SPARK_GRAFT_SF_DIR": "/tmp/sf1",
    }) == explicit
    for off in ("0", ""):
        assert bench.mirror_target({"SPARK_GRAFT_BENCH_MIRROR": off}) is None


class _Cached:
    """Stands in for a Broadcast or a persisted DataFrame."""

    def __init__(self, name, log):
        self.name, self.log = name, log

    def unpersist(self, blocking=True):
        self.log.append(("unpersist", self.name, blocking))


def test_swap_live_releases_the_replaced_object_once_and_first():
    log = []

    def make(name):
        def build():
            log.append(("make", name))
            return _Cached(name, log)

        return build

    def context(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    spark, restarted = context("app-1"), context("app-2")
    key, other, fresh = ("app-1", "tag"), ("app-1", "other_tag"), ("app-2", "tag")
    try:
        assert io.swap_live(spark, "tag", make("old")).name == "old"
        io.swap_live(spark, "other_tag", make("bystander"))
        io.swap_live(spark, "tag", make("new"))
        io.swap_live(spark, "tag", make("newest"))
        # a restarted context never releases what its predecessor holds
        io.swap_live(restarted, "tag", make("restarted"))
        # each replaced object is released once, non-blocking, BEFORE its
        # successor is made (a same-plan frame persisted first would reuse
        # the cache entry the release then drops); other keys stay live
        assert log == [
            ("make", "old"),
            ("make", "bystander"),
            ("unpersist", "old", False),
            ("make", "new"),
            ("unpersist", "new", False),
            ("make", "newest"),
            ("make", "restarted"),
        ]
        assert io._LIVE[key].name == "newest"
        assert io._LIVE[other].name == "bystander"
        assert io._LIVE[fresh].name == "restarted"
    finally:
        for k in (key, other, fresh):
            io._LIVE.pop(k, None)
