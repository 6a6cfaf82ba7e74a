"""Workload ``pipeline_refresh``: one batch refresh, then live serving.

Inputs (from the seed): Kroger-shaped raw parquet tables from
``sources.synthetic.write_raw_tables`` and nested JSONL payloads from
``write_payload_fixtures``, at ``SCALE`` times the package defaults.

A run is what a scheduled refresh job costs in a fresh JVM (batch
posture: ``get_spark`` defaults, AQE on):

1. full refresh: ``ingest.flatten_*`` (materialized), then
   ``runner.run_pipeline(raw, out)``, a collect of all nine
   ``runner.dashboard_queries`` frames and ``serving.dashboard_html``;
2. incremental batch: ``runner.seed_snapshots(until=cut)`` then
   ``runner.run_incremental(since=cut)``;
3. the fresh models are served by ``serving_http.DashboardServer`` to an
   open-loop client process at the fixed rates in ``RATES``.

Correctness: every mart and dashboard frame is value-compared with the
registered m01-m09/d01-d09 DuckDB oracles replayed on the generated raw
directory; the incremental tables must equal the full-refresh ones; each
chart's JSON must equal a direct collect.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import time
import urllib.request
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from datetime import timedelta
from unittest import mock

import harness
import http_client

SCALE = 5
SMOKE_SCALE = 1
# Open loop: evenly spaced arrivals at each rate (requests/s) for an
# equal share of the run. One request every PAGE_PERIOD_S loads the
# whole page (26 Spark jobs), the rest fetch single charts; the mix is a
# choice, not a measured trace. A rate is met when no request failed,
# the backlog drained, the rung's chart p90 is within CHART_LIMIT_S and
# every page load within PAGE_LIMIT_S (both about twice to six times
# the serial time). The rates straddle saturation, from serial service
# times measured on a 4-vCPU VM (traced run at SCALE): a chart
# 0.135-0.16 s, the page 1.2-1.4 s, so 2/s asks ~1.0 serial second per
# second and 12/s ~2.4; with 4 connections, 8/s was met in most runs and
# 16/s never (chart p90 2.2-3.4 s).
RATES = [2.0, 4.0, 8.0, 12.0]
PAGE_PERIOD_S = 1.25  # two page loads per rung at run_seconds 10
CHART_LIMIT_S = 1.0
PAGE_LIMIT_S = 3.0
GEN_REPEATS = 3


def _sizes(scale: int) -> tuple[dict, dict]:
    raw = {"n_locations": 60 * scale, "n_products": 400 * scale,
           "n_prices": 4000 * scale}
    payload = {"n_locations": 90 * scale, "n_products": 600 * scale}
    return raw, payload


def _generate(sb: harness.Sandbox, seed: int, scale: int) -> tuple[str, dict]:
    from product_data_pipelining_spark.sources import synthetic

    raw_sizes, payload_sizes = _sizes(scale)
    raw = sb.path("raw")
    synthetic.write_raw_tables(raw, seed=seed, **raw_sizes)
    payloads = synthetic.write_payload_fixtures(raw, seed=seed, **payload_sizes)
    return raw, payloads


def _cut(scale: int) -> str:
    """Three quarters into the price feed's fetch times: the incremental
    batch merges the last quarter of price rows into the snapshot."""
    from product_data_pipelining_spark.sources.synthetic import BASE_TS

    n = _sizes(scale)[0]["n_prices"]
    return str(BASE_TS + timedelta(seconds=(3 * n) // 4))


def _get(port: int, path: str) -> tuple[int, bytes]:
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=120) as r:
        return r.status, r.read()


def run(args, sb: harness.Sandbox, res: harness.Result) -> None:
    scale = SMOKE_SCALE if args.smoke else SCALE
    t = time.perf_counter()
    spark = harness.start_spark(sb, "perfbench-pipeline")
    session_s = time.perf_counter() - t
    try:
        _run(args, sb, res, spark, scale, session_s)
    finally:
        mem = harness.memory_metrics(spark)
        res.e2e["peak_mem_mb"] = mem.pop("peak_mem_mb")
        res.layer.update(mem)
        harness.stop_spark(spark)


def _run(args, sb, res, spark, scale, session_s) -> None:
    import duckdb

    from product_data_pipelining_spark.checks.oracle_compare import frames_match
    from product_data_pipelining_spark.models import pipeline_queries, runner, serving
    from product_data_pipelining_spark.models.serving_http import (
        CHART_QUERIES, DashboardServer,
    )
    from product_data_pipelining_spark.registry import all_queries
    from product_data_pipelining_spark.sources import ingest

    tr = harness.Tracer(spark, args.trace)
    L = res.layer

    # -- set-up: input generation, repeated; the last copy is used -------
    gen = []
    for _ in range(GEN_REPEATS):
        t = time.perf_counter()
        raw, payloads = _generate(sb, args.seed, scale)
        gen.append(time.perf_counter() - t)
    datagen_s = statistics.median(gen)
    res.e2e["setup_s"] = (session_s + datagen_s, "s")
    L["session.start_s"] = (session_s, "s")
    L["datagen_s"] = (datagen_s, "s")
    # bytes of what run_pipeline reads: the raw parquet tables only
    raw_bytes = sum(harness.dir_bytes(os.path.join(raw, f"{n}.parquet"))
                    for n in runner.RAW_TABLES)
    out, inc = sb.path("out"), sb.path("inc")
    cut = _cut(scale)

    def step(name, fn):
        with tr.span(name) as span:
            t = time.perf_counter()
            try:
                value = fn()
                ok = True
            except Exception as exc:  # count it, keep measuring the rest
                print(f"# {name}: {exc!r}", file=sys.stderr)
                value, ok = None, False
            dt = time.perf_counter() - t
        print(f"# {name} {dt:.2f}s", file=sys.stderr)
        res.check(ok, f"{name} raised")
        return value, dt, span

    def flatten():
        lp = ingest.read_location_payloads(spark, payloads["locations_payload"])
        pp = ingest.read_product_payloads(spark, payloads["products_payload"])
        frames = [ingest.flatten_locations(lp), ingest.flatten_products(pp),
                  ingest.flatten_prices(pp)]
        for df in frames:
            df.write.format("noop").mode("overwrite").save()
        return frames

    # The registered m01-m09/d01-d09 oracles, re-pointed at the generated
    # raw directory: DuckDB computing the same marts and dashboard frames
    # is the single-node baseline, replayed between the refresh steps so
    # machine-wide slowdowns land on both sides of the ratio. Each replay
    # follows a full JVM collection (see harness.memory_metrics).
    specs = all_queries()
    names = [n for n in specs if re.match(r"[md]0[1-9]_", n)]
    oracles = {n: specs[n].oracle.replace(pipeline_queries._FIXTURE_DIR, raw)
               for n in names}
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{sb.path('duck')}'")
    duck = []

    def replay() -> None:
        harness.collect_garbage(spark)
        t = time.perf_counter()
        for n in names:
            con.execute(f"CREATE OR REPLACE TEMP TABLE __out AS {oracles[n]}")
        duck.append(time.perf_counter() - t)

    # -- the refresh job (timed, cold JVM) -----------------------------------
    replay()
    sql0 = tr.next_sql_execution_id() if tr.enabled else 0
    flat, flatten_s, _ = step("ingest.flatten", flatten)
    m, pipeline_s, pipe_span = step(
        "runner.run_pipeline", lambda: runner.run_pipeline(spark, raw, out))
    sql1 = tr.next_sql_execution_id() if tr.enabled else 0
    replay()
    _, frames_s, _ = step(
        "dashboard.frames",
        lambda: {k: df.collect() for k, df in runner.dashboard_queries(m).items()})
    _, render_s, _ = step("serving.dashboard_html", lambda: serving.dashboard_html(m))
    replay()
    refresh_s = flatten_s + pipeline_s + frames_s + render_s
    _, seed_s, _ = step(
        "runner.seed_snapshots",
        lambda: runner.seed_snapshots(spark, raw, inc, until=cut))
    sql2 = tr.next_sql_execution_id() if tr.enabled else 0
    m_inc, merge_s, _ = step(
        "runner.run_incremental",
        lambda: runner.run_incremental(spark, raw, inc, since=cut))
    replay()
    incremental_s = seed_s + merge_s
    duck_s = statistics.median(duck)
    # the whole timed refresh job against the single-node replay
    res.e2e["ratio_vs_duckdb"] = ((refresh_s + incremental_s) / duck_s, "ratio")
    L["refresh_s"] = (refresh_s, "s")
    L["incremental_s"] = (incremental_s, "s")
    L["ingest.flatten_s"] = (flatten_s, "s")
    L["dashboard.frames_s"] = (frames_s, "s")
    L["serving.render_s"] = (render_s, "s")
    L["duckdb.replay_s"] = (duck_s, "s")
    print(f"# refresh {refresh_s:.2f}s incremental {incremental_s:.2f}s "
          f"duckdb {[round(d, 3) for d in duck]}", file=sys.stderr)

    # -- correctness -----------------------------------------------------------
    t_check = time.perf_counter()
    if m is not None:
        want = {n: con.execute(oracles[n]).df() for n in names}

        def spark_side(n):
            try:
                return specs[n].fn(spark, raw).toPandas()
            except Exception as exc:
                return exc

        # the registered Spark queries over this run's models; Spark runs
        # the small check jobs side by side
        with mock.patch.object(pipeline_queries, "_models", lambda _spark: m), \
                ThreadPoolExecutor(harness.nproc()) as pool:
            got = dict(zip(names, pool.map(spark_side, names)))
        for n in names:
            if isinstance(got[n], Exception):
                ok, why = False, repr(got[n])
            else:
                ok, why = frames_match(got[n], want[n])
            res.check(ok, f"{n} vs DuckDB oracle: {why}")
    if m_inc is not None:
        # the tables as written by each path, read back by DuckDB
        for name in runner.MATERIALIZED:
            try:
                full, part = (con.execute(f"SELECT * FROM '{d}/{name}/*.parquet'").df()
                              for d in (out, inc))
                ok, why = frames_match(part, full)
                ok = ok and len(full) > 0
            except duckdb.Error as exc:
                ok, why = False, repr(exc)
            res.check(ok, f"incremental {name} != full refresh: {why}")
    con.close()
    print(f"# checks {time.perf_counter() - t_check:.2f}s", file=sys.stderr)

    # -- live serving of the refreshed models -------------------------------
    if m is None:
        return  # nothing to serve
    t_serve = time.perf_counter()
    server = DashboardServer(m).start()
    try:
        _serve(args, res, tr, m, server.port, CHART_QUERIES)
        harness.collect_garbage(spark)
    finally:
        server.stop()
    print(f"# serving {time.perf_counter() - t_serve:.2f}s", file=sys.stderr)

    if tr.enabled:
        _trace_refresh(res, tr, spark, raw, raw_bytes, out, inc, flat,
                       pipe_span, (sql0, sql1, sql2))
        tr.write(harness.OUT_DIR / f"spans-pipeline_refresh-seed{args.seed}.json")


def _serve(args, res, tr, m, port, chart_queries) -> None:
    L = res.layer
    charts = sorted(chart_queries)
    # warm every chart endpoint once (the refresh already rendered the
    # page) and check its JSON against a direct collect
    for path in [f"/api/chart/{c}" for c in charts]:
        try:
            status, body = _get(port, path)
        except OSError as exc:
            status, body = -1, repr(exc).encode()
        res.check(status == 200, f"warm-up GET {path} -> {status}")
        if status != 200:
            continue
        got = json.loads(body)
        df = chart_queries[path.rsplit("/", 1)[1]](m)
        rows = df.collect()
        want = {"columns": df.columns,
                "rows": [[r[c] for c in df.columns] for r in rows]}
        want = json.loads(json.dumps(want, default=str))
        # the API caps a chart at its row limit: the rows served must be
        # exactly the frame's rows, or a subset of them when truncated
        served = Counter(map(json.dumps, got["rows"]))
        full = Counter(map(json.dumps, want["rows"]))
        ok = (got["columns"] == want["columns"]
              and (served <= full if got["truncated"] else served == full)
              and got["truncated"] == (len(rows) > len(got["rows"])))
        res.check(ok, f"chart {path} JSON differs from a direct collect")

    rung_s = args.seconds / len(RATES)
    schedule = http_client.make_schedule(RATES, rung_s, charts, PAGE_PERIOD_S)
    client = subprocess.run(
        [sys.executable, http_client.__file__, str(port), str(harness.nproc())],
        input=json.dumps(schedule), capture_output=True, text=True,
        timeout=args.seconds + 300)
    if client.returncode != 0:
        sys.stderr.write(client.stderr)
    stats = json.loads(client.stdout) if client.returncode == 0 else \
        {"records": [], "hung": 1, "gen_lateness_s": 0.0, "backlog_max": 0}
    records = stats["records"]
    res.check(stats["hung"] == 0 and len(records) == len(schedule),
              "open-loop client lost requests")
    met = []
    for rung, rate in enumerate(RATES):
        mine = [r for r in records if r["rung"] == rung]
        ok_all = all(r["status"] == 200 for r in mine)
        charts_lat = [r["done"] - r["due"] for r in mine if r["path"] != "/"]
        pages_lat = [r["done"] - r["due"] for r in mine if r["path"] == "/"]
        chart_p90 = harness.percentile(charts_lat, 90) if charts_lat else 0.0
        page_max = max(pages_lat, default=0.0)
        drained = max((r["sent"] - r["due"] for r in mine), default=0) < rung_s
        if (mine and ok_all and drained and chart_p90 <= CHART_LIMIT_S
                and page_max <= PAGE_LIMIT_S):
            met.append(rung)
        print(f"# rung {rate}/s: n={len(mine)} ok={ok_all} drained={drained} "
              f"chart_p90={chart_p90:.3f}s page_max={page_max:.3f}s", file=sys.stderr)
    for r in records:
        res.check(r["status"] == 200, f"GET {r['path']} -> {r['status']}")
    # latencies under sustainable load: the rungs that were met (the
    # lowest rung when none was), not the queueing of overloaded rungs
    lat = {"page": [], "chart": []}
    for r in records:
        if r["rung"] in (met or [0]):
            lat["page" if r["path"] == "/" else "chart"].append(r["done"] - r["due"])
    every = lat["page"] + lat["chart"]
    hi = harness.supported_percentile(len(every))
    L["page_p50_s"] = (statistics.median(lat["page"]) if lat["page"] else 0.0, "s")
    L["chart_p50_s"] = (statistics.median(lat["chart"]) if lat["chart"] else 0.0, "s")
    L["latency_hi_s"] = (harness.percentile(every, hi) if every else 0.0, "s")
    L["latency_hi_pct"] = (hi, "pct")
    L["http.samples"] = (len(every), "count")
    L["http.page_samples"] = (len(lat["page"]), "count")
    L["serve_max_rps"] = (RATES[met[-1]] if met else 0.0, "1/s")
    L["serving_http.gen_lateness_s"] = (stats["gen_lateness_s"], "s")
    L["serving_http.backlog_max"] = (stats["backlog_max"], "count")

    if tr.enabled:
        # serial probes at serving scale: planning, jobs per page, chart
        # execution, in-process page render
        L["dashboard.plan_ms"] = (statistics.median(
            harness.plan_ms(chart_queries[c](m)) for c in charts), "ms")
        j0 = tr.next_job_id()
        _get(port, "/")
        L["dashboard.jobs_per_page"] = (tr.next_job_id() - j0, "count")
        execs = []
        for c in charts:
            t = time.perf_counter()
            chart_queries[c](m).collect()
            execs.append(time.perf_counter() - t)
        L["dashboard.chart_exec_s"] = (statistics.median(execs), "s")
        from product_data_pipelining_spark.models.serving import dashboard_html

        t = time.perf_counter()
        dashboard_html(m)
        L["serving.html_s"] = (time.perf_counter() - t, "s")


def _trace_refresh(res, tr, spark, raw, raw_bytes, out, inc, flat,
                   pipe_span, sql_marks) -> None:
    """Per-layer breakdown of the refresh, from the spans and the SQL
    executions recorded while it ran, plus an upsert probe."""
    from product_data_pipelining_spark.models import runner

    L = res.layer
    sql0, sql1, sql2 = sql_marks
    rows = sum(df.count() for df in flat) if flat else 0
    flatten_s = tr.total("ingest.flatten")
    L["ingest.rows_per_s"] = (rows / flatten_s if flatten_s else 0.0, "1/s")

    execs = tr.sql_executions_since(sql0)
    pipe_writes = {}
    for e in execs:
        if sql0 <= e["id"] < sql1:
            name = harness.table_written(e["plan"], out)
            if name:
                pipe_writes[name] = pipe_writes.get(name, 0.0) + e["wall_s"]
    L["runner.write_s"] = (sum(pipe_writes.values()), "s")
    L["runner.fact_prices_s"] = (pipe_writes.get("fact_prices", 0.0), "s")
    L["runner.write_amp"] = (harness.dir_bytes(out) / raw_bytes, "ratio")
    if pipe_span is not None:
        cores = harness.nproc()
        L["runner.jobs"] = (pipe_span["jobs"], "count")
        L["runner.tasks"] = (pipe_span["tasks"], "count")
        L["runner.spill_mb"] = (pipe_span["spill_b"] / 2**20, "MB")
        L["runner.util"] = (pipe_span["run_ms"] / 1e3 / (pipe_span["wall_s"] * cores),
                            "ratio")
    merge = rebuild = 0.0
    for e in execs:
        if e["id"] >= sql2:
            name = harness.table_written(e["plan"], inc) or ""
            if name.startswith("snap_"):
                merge += e["wall_s"]
            elif name in runner.MATERIALIZED:
                rebuild += e["wall_s"]
    L["upsert.merge_s"] = (merge, "s")
    L["runner.rebuild_s"] = (rebuild, "s")

    # upsert probe: the null-gated keyed load of the three raw tables
    read = sum(spark.read.parquet(os.path.join(raw, f"{n}.parquet")).count()
               for n in runner.RAW_TABLES)
    with tr.span("upsert.load") as span:
        loaded = runner.load_raw(spark, raw)
        for df in loaded.values():
            df.write.format("noop").mode("overwrite").save()
    kept = sum(df.count() for df in loaded.values())
    L["upsert.load_s"] = (span["wall_s"], "s")
    L["upsert.keep_ratio"] = (kept / read, "ratio")
    L["upsert.shuffle_mb"] = (span["shuffle_write_b"] / 2**20, "MB")
