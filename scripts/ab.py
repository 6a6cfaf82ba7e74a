#!/usr/bin/env python3
"""Old-versus-new A/B of registered queries: two arms, one shared SF dir.

An arm is a git ref plus optional env settings, ``REF[:K=V[,K=V...]]``;
the ref ``.`` is the working tree as it stands. Any other ref is
extracted with ``git archive`` into a temp dir, so ``.git`` is never
touched. Each arm runs in its own fresh worker process, in the serving
posture that ``import bench`` enters (``session.serve``), and builds
each query's frame once, so the plan cache that posture turns on
changes nothing that is timed.

Before any timing the run is refused unless, for every query,
- the two arms' physical plans differ, and
- their outputs are equal under ``checks.oracle_compare.frames_match``.
Both checks run for every query and a refusal reports both verdicts, so
a refused run still says whether the outputs matched. The plan string
does not show the Python closures inside mapInPandas/mapInArrow, so a
change confined to a Python kernel plans identically and is refused.
Reps alternate which arm leads. The one JSON line on stdout carries
medians with the raw samples and a provenance stamp per arm.

Usage:
  python scripts/ab.py --a 75d5d2c~1 --b 75d5d2c \\
      --dir /tmp/sf0.03 --queries sim06_pq_adc
  python scripts/ab.py --a .:SPARK_GRAFT_TEXT_ARROW=0 \\
      --b .:SPARK_GRAFT_TEXT_ARROW=1 \\
      --dir /tmp/sf0.03 --queries tx11_corpus_filter_pipeline
The SF dir is any generated one (``sources.generator.generate_scale``).
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time
from pathlib import Path

import pandas as pd

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "scripts"))

from _provenance import provenance  # noqa: E402

ARMS = ("a", "b")
_TAG = "@ab "  # prefixes worker replies; other stdout lines are passed on


class Refused(Exception):
    """The arms are not comparable, so nothing is timed."""

    def __init__(self, same: list, differ: dict):
        self.same, self.differ = same, differ
        super().__init__(
            f"plans identical for {same or 'no query'}; "
            f"outputs differ for {differ or 'no query'}"
        )


def parse_arm(spec: str) -> tuple[str, dict[str, str]]:
    """``REF[:K=V[,K=V...]]`` -> (ref, env)."""
    ref, _, settings = spec.partition(":")
    if not ref:
        raise ValueError(f"arm {spec!r} names no git ref")
    env = {}
    for setting in filter(None, settings.split(",")):
        key, eq, value = setting.partition("=")
        if not (key and eq):
            raise ValueError(f"arm {spec!r}: {setting!r} is not K=V")
        env[key] = value
    return ref, env


def lead(rep: int) -> tuple[str, str]:
    """Arm order within one rep: alternates, so neither arm always leads."""
    return ARMS if rep % 2 == 0 else ARMS[::-1]


def plan_shape(plan: str) -> str:
    """A physical plan without the per-process ids (expression ids, plan
    ids, object addresses) that differ between two runs of one plan."""
    return re.sub(r"#\d+|plan_id=\d+|0x[0-9a-f]+", "", plan)


def preflight(plans: dict, outputs: dict) -> None:
    """Raise Refused unless every query plans differently in the two arms
    and returns equal frames. Both maps are {arm: {query: value}}."""
    from product_data_pipelining_spark.checks.oracle_compare import frames_match

    a, b = plans["a"], plans["b"]
    checks = {q: frames_match(outputs["b"][q], outputs["a"][q]) for q in a}
    differ = {q: why for q, (ok, why) in checks.items() if not ok}
    same = [q for q in a if plan_shape(a[q]) == plan_shape(b[q])]
    if same or differ:
        raise Refused(same, differ)


def _recv(proc: subprocess.Popen) -> dict:
    for line in proc.stdout:
        if line.startswith(_TAG):
            return json.loads(line[len(_TAG):])
        sys.stderr.write(line)
    raise SystemExit(f"ab: a worker exited with code {proc.wait()}")


def _noop(df) -> None:
    # full materialization, as bench.py times it
    df.write.format("noop").mode("overwrite").save()


def _worker(tree: str, out: str, queries: list[str]) -> None:
    """One arm: plan, dump the outputs, warm up, then time on request."""
    sys.path.insert(0, tree)
    import bench  # enters the serving posture
    from product_data_pipelining_spark.registry import all_queries
    from product_data_pipelining_spark.session import get_spark

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_spark(app_name="ab", cpus=bench.CPUS)
    specs = all_queries()
    dfs = {q: specs[q].fn(spark, sf_dir) for q in queries}
    plans = {
        q: df._jdf.queryExecution().executedPlan().toString()
        for q, df in dfs.items()
    }
    for q, df in dfs.items():
        df.toPandas().to_pickle(os.path.join(out, f"{q}.pkl"))
        _noop(df)  # warm-up: JIT, codegen, Python workers
    print(_TAG + json.dumps({"plans": plans, "cpus": bench.CPUS}), flush=True)
    for line in sys.stdin:
        df = dfs[line.strip()]
        t0 = time.perf_counter()
        _noop(df)
        sec = time.perf_counter() - t0
        spark._jvm.System.gc()  # level the heap between samples
        print(_TAG + json.dumps({"sec": round(sec, 3)}), flush=True)
    spark.stop()


def _start(arm: str, ref: str, env: dict, args, tmp: str) -> subprocess.Popen:
    tree = str(REPO)
    if ref != ".":
        tree = os.path.join(tmp, f"tree_{arm}")
        tar = subprocess.run(
            ["git", "archive", ref], cwd=REPO, capture_output=True, check=True
        ).stdout
        tarfile.open(fileobj=io.BytesIO(tar)).extractall(tree, filter="data")
    out = os.path.join(tmp, f"out_{arm}")
    os.makedirs(out)
    child = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_ONLY"}
    child.update(env)
    child.update(
        SPARK_GRAFT_SF_DIR=args.dir,
        # executor-side Python workers import from the arm's tree too
        PYTHONPATH=os.pathsep.join(filter(None, [tree, child.get("PYTHONPATH")])),
    )
    return subprocess.Popen(
        [sys.executable, str(Path(__file__).resolve()), "--worker", tree, out,
         *args.queries],
        cwd=tree, env=child, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        text=True,
    )


def _stamp(ref: str, env: dict) -> dict:
    stamp = provenance()
    if ref != ".":  # an extracted ref is clean by construction
        stamp["code_commit"] = subprocess.run(
            ["git", "rev-parse", "--verify", f"{ref}^{{commit}}"],
            cwd=REPO, capture_output=True, text=True, check=True,
        ).stdout.strip()
        stamp["code_dirty"] = False
    return {"ref": ref, "env": env, **stamp}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", required=True, help="arm a: REF[:K=V[,K=V...]]")
    ap.add_argument("--b", required=True, help="arm b: REF[:K=V[,K=V...]]")
    ap.add_argument("--dir", required=True, help="shared SF dir")
    ap.add_argument("--queries", required=True, help="comma-separated names")
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    args.queries = [q.strip() for q in args.queries.split(",") if q.strip()]
    try:
        arms = {"a": parse_arm(args.a), "b": parse_arm(args.b)}
        stamps = {k: _stamp(*arms[k]) for k in ARMS}
    except (ValueError, subprocess.CalledProcessError) as exc:
        ap.error(str(exc))  # a malformed arm, or a ref git cannot resolve
    sys.path.insert(0, str(REPO))
    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        procs = {}
        try:
            for k in ARMS:
                procs[k] = _start(k, *arms[k], args, tmp)
            ready = {k: _recv(procs[k]) for k in ARMS}
            plans = {k: ready[k]["plans"] for k in ARMS}
            cpus = {k: ready[k]["cpus"] for k in ARMS}
            outputs = {k: {q: pd.read_pickle(f"{tmp}/out_{k}/{q}.pkl")
                           for q in args.queries} for k in ARMS}
            try:
                preflight(plans, outputs)
            except Refused as exc:
                print(json.dumps({
                    "metric": "ab", "refused": str(exc), "cpus": cpus,
                    "plans_differ": not exc.same, "outputs_equal": not exc.differ,
                    "provenance": stamps,
                }))
                raise SystemExit(1)
            samples = {q: {k: [] for k in ARMS} for q in args.queries}
            for rep in range(args.reps):
                for q in args.queries:
                    for k in lead(rep):
                        procs[k].stdin.write(q + "\n")
                        procs[k].stdin.flush()
                        samples[q][k].append(_recv(procs[k])["sec"])
        finally:
            for p in procs.values():
                p.stdin.close()
            for p in procs.values():
                try:
                    p.wait(timeout=120)
                except subprocess.TimeoutExpired:
                    p.kill()
    result = {}
    for q, s in samples.items():
        med = {k: round(statistics.median(v), 3) for k, v in s.items()}
        ratio = round(med["b"] / med["a"], 3) if med["a"] > 0 else None
        result[q] = {"rows": len(outputs["a"][q]), "median_sec": med,
                     "b_over_a": ratio, "samples": s}
    print(json.dumps({
        "metric": "ab", "dir": args.dir, "cpus": cpus, "reps": args.reps,
        "plans_differ": True, "outputs_equal": True, "queries": result,
        "provenance": stamps,
    }))


if __name__ == "__main__":
    if sys.argv[1:2] == ["--worker"]:
        _worker(sys.argv[2], sys.argv[3], sys.argv[4:])
    else:
        main()
