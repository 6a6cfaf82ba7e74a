#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline_refresh --seed 1 \\
        --seconds 10 --trace 0

Runs one workload against the package's public functions, checks its
outputs, and prints one JSON line last: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer
metrics with ``--trace 1``). ``--smoke`` shrinks the inputs for a quick
self-check. Workloads, sizes and metric meanings: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import sys
import traceback

sys.dont_write_bytecode = True

import harness  # noqa: E402

WORKLOADS = ("pipeline_refresh", "headline_queries")

# Per-layer metrics (by name prefix) that only one workload measures;
# the other reports them as 0. The rest are measured by both.
LAYERS_OF = {
    "pipeline_refresh": (
        "refresh_s", "incremental_s", "page_", "chart_", "latency_hi_", "http.",
        "serve_max_rps", "ingest.", "upsert.", "runner.", "dashboard.",
        "serving.", "serving_http.", "duckdb.replay_s"),
    "headline_queries": (
        "query_", "headline.", "operators.", "streaming.", "registry.",
        "duckdb.total_s", "io."),
}


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric units, as BENCHMARK.json lists them."""
    spec = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    args.trace = bool(args.trace)

    if not (harness.ROOT / "product_data_pipelining_spark").is_dir():
        print("perfbench: the package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(harness.ROOT))

    res = harness.Result()
    with harness.Sandbox(args.workload) as sb:
        if args.workload == "pipeline_refresh":
            import pipeline_refresh as workload
        else:
            import headline_queries as workload
        workload.run(args, sb, res)
    changed = sb.changed_files()
    for path in changed:
        print(f"# checkout file changed by the run: {path}", file=sys.stderr)

    end_to_end, per_layer = metric_units()
    res.layer["failed_frac"] = (res.failed / max(res.attempted, 1), "ratio")
    for name, unit in per_layer.items():
        if any(name.startswith(LAYERS_OF[w]) for w in WORKLOADS if w != args.workload):
            res.layer.setdefault(name, (0.0, unit))  # layer not exercised
    want = per_layer if args.trace else end_to_end
    got = res.layer if args.trace else res.e2e
    missing = sorted(set(want) - set(got))
    wrong = sorted(k for k in want if k in got and got[k][1] != want[k])
    if missing or wrong:
        print(f"perfbench: metrics not measured: {missing}; "
              f"unit differs from BENCHMARK.json: {wrong}", file=sys.stderr)
        return 3
    if args.trace:
        # end-to-end figures of the traced run, for the tracing overhead
        print("# traced-e2e " + json.dumps({k: v for k, (v, _u) in res.e2e.items()}),
              file=sys.stderr)
    res.emit({k: got[k] for k in want}, correct=not changed)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
