#!/usr/bin/env python3
"""Repeat-run checks for the benchmark.

    python3 perfbench/prove.py --smoke
        Tiny inputs, every workload untraced and traced: asserts each
        metric named in BENCHMARK.json is printed exactly once with its
        unit and that no operation failed.

    python3 perfbench/prove.py --seeds 10 [--workloads w1,w2] [--out F]
        Runs every workload once per seed, then once traced. Prints each
        end-to-end metric's median, quartiles and quartile spread
        (share of the median) against its bound, and the tracing
        overhead (traced minus untraced end-to-end). ``--out`` records
        the figures with a commit provenance stamp.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _no_duplicates(pairs):
    keys = [k for k, _ in pairs]
    dupes = {k for k in keys if keys.count(k) > 1}
    if dupes:
        raise ValueError(f"metric printed more than once: {sorted(dupes)}")
    return dict(pairs)


def run_once(workload: str, seed: int, seconds: float, trace: int,
             smoke: bool = False) -> tuple[dict, dict | None, float]:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    if smoke:
        cmd.append("--smoke")
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1],
                        object_pairs_hook=_no_duplicates)
    if not result["correct"]:
        sys.stderr.write("".join(
            line + "\n" for line in proc.stderr.splitlines()
            if line.startswith(("# FAILED", "# checkout file changed"))))
    traced_e2e = None
    for line in proc.stderr.splitlines():
        if line.startswith("# traced-e2e "):
            traced_e2e = json.loads(line[len("# traced-e2e "):])
    return result, traced_e2e, wall


def check_line(result: dict, trace: int, where: str) -> None:
    group = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    want = {m["name"]: m["unit"] for m in group}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{where}: metrics/units differ: {set(got) ^ set(want)}"
    assert result["correct"] is True, f"{where}: correct is false"
    assert result["failed"] == 0 and result["attempted"] >= 1, f"{where}: {result}"
    if trace:
        assert result["metrics"]["failed_frac"]["value"] == 0, where


def smoke() -> None:
    for w in SPEC["workloads"]:
        for trace in (0, 1):
            result, _, wall = run_once(w["name"], 1, 2, trace, smoke=True)
            check_line(result, trace, f"{w['name']} trace={trace}")
            print(f"ok  {w['name']:<18} trace={trace}  {wall:5.1f}s wall")
    print("smoke: every metric printed once with its unit; failed_frac 0")


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else float("inf")}


def prove(workloads: list[str], seeds: int, first_seed: int, out: str | None) -> None:
    seconds = SPEC["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    record = {"run_seconds": seconds, "seeds": list(range(first_seed, first_seed + seeds)),
              "workloads": {}}
    for w in workloads:
        values: dict[str, list[float]] = {k: [] for k in bounds}
        walls = []
        for seed in record["seeds"]:
            result, _, wall = run_once(w, seed, seconds, 0)
            check_line(result, 0, f"{w} seed {seed}")
            walls.append(wall)
            for k in bounds:
                values[k].append(result["metrics"][k]["value"])
            print(f"{w} seed {seed}: {wall:.0f}s wall "
                  + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
        traced, traced_e2e, _ = run_once(w, first_seed, seconds, 1)
        check_line(traced, 1, f"{w} traced")
        stats = {k: spread(v) for k, v in values.items()}
        overhead = {k: traced_e2e[k] / stats[k]["median"] - 1 for k in bounds}
        record["workloads"][w] = {
            "end_to_end": stats, "values": values, "run_wall_s": walls,
            "per_layer_traced": {k: v["value"] for k, v in traced["metrics"].items()},
            "traced_end_to_end": traced_e2e, "tracing_overhead": overhead,
        }
        print(f"\n{w}: median run wall {statistics.median(walls):.1f}s")
        for k, s in stats.items():
            flag = "ok" if s["spread"] <= bounds[k] / 3 else (
                "WITHIN BOUND" if s["spread"] <= bounds[k] else "OVER BOUND")
            print(f"  {k:<16} median {s['median']:10.4g}  q1 {s['q1']:10.4g}  "
                  f"q3 {s['q3']:10.4g}  spread {s['spread']:.3f} / bound "
                  f"{bounds[k]}  {flag}  tracing {overhead[k]:+.1%}")
        print(flush=True)
    if out:
        sys.path.insert(0, str(ROOT / "scripts"))
        from _provenance import provenance

        record["provenance"] = provenance()
        Path(out).parent.mkdir(parents=True, exist_ok=True)
        Path(out).write_text(json.dumps(record, indent=1) + "\n")
        print(f"wrote {out}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    ap.add_argument("--out")
    args = ap.parse_args()
    if args.smoke:
        smoke()
    else:
        prove(args.workloads.split(","), args.seeds, args.first_seed, args.out)


if __name__ == "__main__":
    main()
