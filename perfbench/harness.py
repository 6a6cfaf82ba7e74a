"""Shared plumbing for the benchmark workloads.

- :class:`Sandbox` keeps every byte a run writes (generated inputs,
  pipeline outputs, Spark spill and warehouse, JVM and Python temp files,
  DuckDB spill) in one scratch directory inside the checkout, removes it
  at the end, and checks that no other file of the checkout changed.
- :class:`Tracer` records spans around the calls into each layer. With
  tracing off every method is a no-op, so untimed bookkeeping never
  lands inside a timed region of an untraced run.
- :class:`Result` collects metrics and prints the one JSON result line.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import sys
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK_ROOT = ROOT / ".perfbench_work"
OUT_DIR = ROOT / "perfbench" / "out"
# Written by the run itself or by the interpreter; everything else in the
# checkout must be byte-for-byte the same after a run.
_SKIP_DIRS = {".perfbench_work", ".bench_build", "__pycache__", ".git", "out"}

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _tree_state() -> dict[str, tuple[int, int]]:
    state = {}
    for dirpath, dirnames, filenames in os.walk(ROOT):
        rel = Path(dirpath).relative_to(ROOT)
        dirnames[:] = [
            d for d in dirnames
            if d not in _SKIP_DIRS or (d == "out" and rel != Path("perfbench"))
        ]
        for f in filenames:
            p = Path(dirpath) / f
            st = p.lstat()
            state[str(p.relative_to(ROOT))] = (st.st_size, st.st_mtime_ns)
    return state


class Sandbox:
    """Scratch directory for one run plus the unchanged-checkout guard.

    Must be entered before pyspark is imported: the environment set here
    is what the JVM and its Python workers inherit.
    """

    def __init__(self, name: str):
        self.dir = WORK_ROOT / f"{name}-{os.getpid()}"
        self._before: dict[str, tuple[int, int]] = {}

    def __enter__(self) -> "Sandbox":
        self._before = _tree_state()
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "local", "warehouse", "duck"):
            (self.dir / sub).mkdir(parents=True)
        sys.dont_write_bytecode = True
        os.environ.update({
            "PYTHONDONTWRITEBYTECODE": "1",
            "TMPDIR": str(self.dir / "tmp"),
            "SPARK_LOCAL_DIRS": str(self.dir / "local"),
            "SPARK_GRAFT_CPUS": str(nproc()),
            # the launcher JVM would otherwise write /tmp/hsperfdata_*
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        })
        # the package sizes the driver heap itself (get_spark defaults)
        for var in ("SPARK_GRAFT_ONLY", "SPARK_DRIVER_MEM"):
            os.environ.pop(var, None)
        return self

    def path(self, *parts: str) -> str:
        return str(self.dir.joinpath(*parts))

    def spark_conf(self) -> dict[str, str]:
        tmp = self.dir / "tmp"
        return {
            "spark.sql.warehouse.dir": str(self.dir / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "10000",
            "spark.sql.ui.retainedExecutions": "5000",
        }

    def changed_files(self) -> list[str]:
        after = _tree_state()
        keys = set(self._before) | set(after)
        return sorted(k for k in keys if self._before.get(k) != after.get(k))

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            WORK_ROOT.rmdir()  # only when no concurrent run still uses it
        except OSError:
            pass


# --- session lifetime -------------------------------------------------------


def start_spark(sandbox: Sandbox, app: str):
    from product_data_pipelining_spark.session import get_spark

    return get_spark(app_name=app, cpus=nproc(), extra_conf=sandbox.spark_conf())


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


# largest JVM figures seen by collect_garbage, in bytes
_JVM_PEAKS = {"heap_live": 0, "heap_committed": 0, "buffers": 0}


def collect_garbage(spark) -> None:
    """Run a full collection (synchronous in G1) and record the heap left
    after it, which is what the program retains at this point, plus the
    committed heap and the direct and mapped buffers in use."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    jvm.System.gc()
    heap = mf.getMemoryMXBean().getHeapMemoryUsage()
    pools = mf.getPlatformMXBeans(
        jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean"))
    for key, value in (("heap_live", heap.getUsed()),
                       ("heap_committed", heap.getCommitted()),
                       ("buffers", sum(p.getMemoryUsed() for p in pools))):
        _JVM_PEAKS[key] = max(_JVM_PEAKS[key], value)


def memory_metrics(spark) -> dict[str, tuple[float, str]]:
    """Peak memory of this process and the JVM it launched.

    ``peak_rss_mb`` is the two peak resident sets. How much heap the JVM
    commits (and so keeps resident) is the collector's sizing choice; it
    varied by a factor of two between runs of the same work. So
    ``peak_mem_mb`` counts the JVM by what the program uses: the largest
    heap left after the full collections the workload runs at fixed
    points of its work (:func:`collect_garbage`), the peak of the
    non-heap pools (classes, compiled code) and the largest direct and
    mapped buffer use; plus this process's peak resident set (DuckDB,
    pandas, Arrow).
    Thread stacks and the JVM's own native allocations are left out.
    """
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    non_heap = jvm.java.lang.management.MemoryType.NON_HEAP
    code_and_classes = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
                           if p.getType() == non_heap)
    py_kb = _vm_hwm_kb(os.getpid())
    pid = jvm_pid()
    jvm_kb = _vm_hwm_kb(pid) if pid else 0
    mb = {k: v / 2**20 for k, v in _JVM_PEAKS.items()}
    mb["non_heap"] = code_and_classes / 2**20
    print(f"# memory: python {py_kb / 1024:.0f} MB, JVM resident {jvm_kb / 1024:.0f} MB, "
          + ", ".join(f"{k} {v:.0f}" for k, v in mb.items()), file=sys.stderr)
    return {
        "peak_mem_mb": (py_kb / 1024 + mb["heap_live"] + mb["non_heap"] + mb["buffers"],
                        "MB"),
        "peak_rss_mb": ((py_kb + jvm_kb) / 1024, "MB"),
        "jvm.heap_live_mb": (mb["heap_live"], "MB"),
        "jvm.heap_committed_mb": (mb["heap_committed"], "MB"),
        "jvm.non_heap_mb": (mb["non_heap"], "MB"),
    }


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# --- statistics -------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(values)
    k = max(0, math.ceil(q / 100.0 * len(s)) - 1)
    return s[k]


def supported_percentile(n: int) -> int:
    """Highest of p50/p75/p90/p99 with at least ten samples above it."""
    best = 50
    for q in (75, 90, 99):
        if n - math.ceil(q / 100.0 * n) >= 10:
            best = q
    return best


# --- tracing ----------------------------------------------------------------


class Tracer:
    """Spans at layer boundaries, with the Spark work each one caused.

    A span sets a Spark job group, so every job started inside it (on
    this thread) is attributed to it. At span end the job ids of the
    group are resolved through ``SparkContext.statusTracker()`` and the
    status store into jobs, tasks, failed tasks, executor run and CPU
    time, shuffle bytes and spill. Spans stay in memory until
    :meth:`write`.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "id": self._seq,
               "parent": parent["id"] if parent else None,
               "group": group, **attrs}
        self._stack.append(rec)
        sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            rec.update(self.job_stats(sc.statusTracker().getJobIdsForGroup(group)))
            self.spans.append(rec)

    def job_stats(self, job_ids) -> dict:
        """Jobs, tasks and stage metrics of the given Spark jobs."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "failed_tasks": 0,
               "run_ms": 0, "cpu_ms": 0.0, "shuffle_write_b": 0,
               "spill_b": 0}
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # evicted from the status store
                continue
            if sd.numCompleteTasks() == 0 and sd.numFailedTasks() == 0:
                continue  # skipped stage (its shuffle output was reused)
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["run_ms"] += sd.executorRunTime()
            out["cpu_ms"] += sd.executorCpuTime() / 1e6
            out["shuffle_write_b"] += sd.shuffleWriteBytes()
            out["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def next_job_id(self) -> int:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        n = jobs.size()
        return (max(jobs.apply(i).jobId() for i in range(n)) + 1) if n else 0

    def sql_executions_since(self, first_id: int) -> list[dict]:
        """SQL executions with id >= first_id: id, wall seconds, plan text."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() < first_id or e.completionTime().isEmpty():
                continue
            wall = (e.completionTime().get().getTime() - e.submissionTime()) / 1e3
            out.append({"id": e.executionId(), "wall_s": wall,
                        "plan": e.physicalPlanDescription()})
        return out

    def next_sql_execution_id(self) -> int:
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        n = execs.size()
        return (max(execs.apply(i).executionId() for i in range(n)) + 1) if n else 0

    def total(self, name: str) -> float:
        return sum(s["wall_s"] for s in self.spans if s["name"] == name)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)


def plan_ms(df) -> float:
    """Analysis + optimization + physical planning milliseconds of a
    DataFrame, read from its QueryExecution's phase tracker after the
    physical plan is forced."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def table_written(plan: str, out_dir: str) -> str | None:
    """Table under ``out_dir`` that a write's plan text writes to: the
    write command is the plan's root, so its path is the last one listed
    (scans of inputs under the same directory come before it)."""
    found = re.findall(re.escape(out_dir.rstrip("/")) + r"/([A-Za-z0-9_]+)", plan)
    return found[-1] if found else None


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (a file or a directory)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _d, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(dirpath, f))
            for f in files if not f.startswith((".", "_"))
        )
    return total


# --- the result line --------------------------------------------------------


class Result:
    """Counts operations and failures and prints the JSON result line."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# FAILED: {what}", file=sys.stderr)
        return ok

    def emit(self, metrics: dict[str, tuple[float, str]], correct: bool) -> None:
        print(json.dumps({
            "correct": bool(correct and self.failed == 0),
            "attempted": int(max(self.attempted, 1)),
            "failed": int(self.failed),
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items()},
        }), flush=True)
