"""SparkSession factory tuned for both local testing and cluster scale.

The reference delegates execution to an in-process DuckDB
(``/root/reference/.dbt/profiles.yml:2-10``); here Catalyst/Tungsten play
that role. Every knob below, the batch posture, is chosen for the 100 TB
target (:func:`serve` switches the process to the serving posture):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion replace hand-tuned partition counts.
- ``autoBroadcastJoinThreshold`` raised to 32 MB: the 10 MB default
  dates to 1 GB-heap executors; any modern executor holds a 32 MB hash
  relation without pressure, and the extra headroom lets pruned
  single-column dimension key sets (e.g. a filtered custkey list)
  broadcast instead of forcing a fact-side exchange. AQE still demotes
  from RUNTIME sizes when an estimate lied upward.
- Arrow enabled: every pandas boundary (``toPandas``, pandas UDFs,
  ``applyInPandas``/``mapInPandas``) moves columnar batches, not rows.
- Shuffle partitions default to the local core count for tests; on a real
  cluster AQE coalesces from a deliberately high initial number, so we set
  a high ``initialPartitionNum`` and let AQE shrink it.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable, Sequence, TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


@dataclass(frozen=True)
class Posture:
    """How this process plans and caches (the default is batch)."""

    aqe: bool = True
    shuffle_partitions: int | None = None  # None: one per core
    cache_tables: bool = False  # io.load_table's in-memory table cache
    plan_cache: bool = False  # the registry's prepared-plan cache


_posture = Posture()


def posture() -> Posture:
    """What get_spark, io.load_table and the registry follow."""
    return _posture


def serve(sf_dir: str) -> Posture:
    """Switch this process to the serving posture for ``sf_dir``'s tables.

    Serving is repeated sub-second queries over one warehouse: base
    tables stay in the table cache, plans are prepared once, and AQE is
    off: its per-exchange scheduler job and driver replan dominate
    sub-second queries (11.1 s -> ~3 s on the sf0.1 headline set), while
    at 100 TB they pay for themselves. Shuffle partitions are sized
    instead: one per ~64 MiB of ``sf_dir``, at least 8 (also for a dir
    not written yet), at most DEFAULT_CPUS.
    """
    from .io import _table_bytes  # io imports this module

    global _posture
    parts = max(8, _table_bytes(sf_dir) // (64 * 1024 * 1024))
    _posture = Posture(False, min(DEFAULT_CPUS, parts), True, True)
    return _posture


T = TypeVar("T")

# widest caller: the dashboard's six chart frames
_MAX_CONCURRENT = 6


def run_concurrently(spark: SparkSession, actions: Sequence[Callable[[], T]]) -> list[T]:
    """Run independent Spark actions at once; return their results in order.

    One thread per action (at most ``_MAX_CONCURRENT``), so small jobs
    that would each leave most cores idle share the scheduler instead of
    queueing behind one another (dbt's ``threads``). Each action is
    wrapped with ``inheritable_thread_target(spark)`` on the calling
    thread: its jobs keep the caller's local properties (job group,
    description), which plain worker threads would drop. Every action
    runs to completion; then the first failure, in action order, is
    raised.
    """
    with ThreadPoolExecutor(min(len(actions), _MAX_CONCURRENT)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(a)) for a in actions]
    return [f.result() for f in futures]


def available_ram_gb() -> int:
    """Host's currently-available RAM in GiB (MemAvailable, which
    counts reclaimable page cache — the honest budget for a new JVM).
    Falls back to total RAM, then to a conservative 16 GiB."""
    try:
        with open("/proc/meminfo") as f:
            info = dict(
                (line.split(":")[0], int(line.split()[1]))  # kB
                for line in f
                if ":" in line and line.split()[1:2]
            )
        kb = info.get("MemAvailable", info.get("MemTotal", 16 * 1024 * 1024))
        return max(1, kb // (1024 * 1024))
    except (OSError, ValueError, IndexError):
        return 16


def _default_heap_gb() -> int:
    """Default driver heap: a quarter of available RAM, clamped to
    [4, 24] GiB. 24g is the tuned ceiling for the 128 GiB probe box
    (32-way SHJ builds beside an sf10 table cache); hosts with less
    RAM scale down instead of inviting the OOM killer — bench.py's
    in-process DuckDB baseline budgets its own quarter beside this."""
    return min(24, max(4, available_ram_gb() // 4))


def get_spark(
    app_name: str = "product_data_pipelining_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local-mode entry point; on a cluster the same confs apply, minus
    ``master``. Callers in tests pass small ``cpus`` to keep JVM startup
    cheap.
    """
    cpus = cpus or DEFAULT_CPUS
    # One BLAS thread per Python worker: task-level parallelism is
    # Spark's job. Without this every numpy-kernel task spawns an
    # OpenBLAS pool sized to ALL machine cores — at local[32] that is
    # 32 workers x 32 BLAS threads = 1024 runnable threads, and sim01's
    # sf10 GEMM measured 8.9 s stable on 8 cores but 12-84 s THRASHING
    # on 32. Same rule a cluster deployment applies per executor core.
    # Set in our own env first (local-mode Python workers inherit the
    # driver's env through the JVM) and as executorEnv for cluster mode.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS", "BLIS_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # cluster-mode twin of the BLAS pinning above (local-mode
        # workers already inherit it via os.environ)
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # --- adaptive execution: the scale story ---
        .config("spark.sql.adaptive.enabled", str(_posture.aqe).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # coalesce respecting parallelism FIRST (the Spark default), not
        # purely by advisory size: with parallelismFirst=false a 343 MiB
        # 15M-row aggregate exchange at sf10 coalesced to ~6 of 32 cores
        # (64 MiB advisory) and the final agg ran 9.6 s vs 1.2 s — the
        # advisory size caps big-stage parallelism exactly when it
        # matters. Tiny stages still collapse: minPartitionSize (1 MiB)
        # bounds the split, so a 6 KiB result stage remains one task.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        # start high, let AQE coalesce down — on a 1000-executor cluster the
        # initial number should be ~2-3x total cores; locally core count
        # (or the serving posture's data-sized count).
        .config("spark.sql.shuffle.partitions", str(_posture.shuffle_partitions or cpus))
        # 32 MB broadcast threshold (see module docstring): modern-heap
        # sizing so pruned dimension key sets broadcast; AQE can still
        # demote a lying estimate at runtime.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # --- pandas/Arrow boundary ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- parquet scan behavior ---
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # 128 MB split targets keep partitions memory-safe at any SF.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # ANSI off: the reference (DuckDB via dbt) uses null-on-overflow /
        # null-on-bad-cast semantics (TRY_CAST), matching non-ANSI Spark.
        .config("spark.sql.ansi.enabled", "false")
        # deterministic timestamp semantics everywhere (streaming event
        # time, window boundaries) regardless of host timezone
        .config("spark.sql.session.timeZone", "UTC")
        # plan-string metadata (PushedFilters/ReadSchema lists) untruncated
        # so plan inspection/reporting sees the whole story
        .config("spark.sql.maxMetadataStringLength", "2000")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # local mode runs every executor thread inside the driver JVM, so
        # this is the TOTAL heap for scans + shuffles + the serving-mode
        # table caches. 8g starved 32-way ShuffledHashJoin builds next to
        # an sf10 cache (storageFraction protects cached blocks from
        # eviction); on a real cluster this maps to executor memory and
        # is sized per-node, not per-job. The default is derived from
        # the host's available RAM (bench.py runs a DuckDB baseline in
        # the same process, so the 24g ceiling must not be assumed on
        # smaller hosts — see _default_heap_gb).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", f"{_default_heap_gb()}g"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
