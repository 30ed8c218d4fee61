"""SparkSession factory for the engine.

Reference has no session concept (Postgres connection via dbt profile,
/root/reference/ufc/profiles.yml:1-12); this is the Spark-native analog:
one place that pins the configs every job relies on.

Scale notes (100 TB design point):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion are the first line of defense when
  stats are wrong at scale.
- ANSI off: the reference's raw layer is stringly-typed (dlt loads text,
  /root/reference/dlt/load.py:36-41) and staging casts defensively;
  permissive casts (null on failure) match Postgres-view-over-clean-data
  behavior without blowing up on dirty rows.
- UTC session timezone: deterministic date/timestamp semantics across
  engines (the DuckDB oracle reads the same parquet as naive timestamps).
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

T = TypeVar("T")

log = logging.getLogger(__name__)

# Confs a session refused to set; each is warned about once per process.
_locked_confs: set[str] = set()

# Runtime-settable confs we also re-apply to externally provided sessions
# (the verify driver owns its own SparkSession).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # let AQE re-optimize plans that sit under a persist(); without this the
    # cache-materialization pass runs with static shuffle partitioning
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (driver-owned).
    A conf the session refuses (locked down, or static) is skipped with a
    one-time warning; queries guard themselves."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:  # noqa: BLE001 — any refusal is non-fatal
            if k not in _locked_confs:
                _locked_confs.add(k)
                log.warning("cannot set %s=%s on this session: %s", k, v, exc)
    return spark


def run_concurrently(spark: SparkSession, units: list[Callable[[], T]]) -> list[T]:
    """Run independent units of Spark work at once, one thread each, and
    return their results in ``units`` order.

    While one unit builds and plans its job on the driver (Python plan
    construction, Catalyst, codegen, AQE re-planning), another's job
    executes, so the task slots stop idling through driver-only work.
    Each unit runs under its own copy of the caller's local properties
    (job group, description, scheduler pool) and session tags, so
    ``cancelJobGroup`` and job-group accounting cover every unit's jobs.
    It also runs with ``spark`` as its thread's active session. The width
    is the number of units, never a task-slot count: a unit may
    block on another unit's result and must not starve for a thread.
    Every unit finishes before this returns; if any failed, the first
    failure in ``units`` order is raised.
    """
    if not units:
        return []

    def in_session(unit: Callable[[], T]) -> Callable[[], T]:
        @inheritable_thread_target(spark)
        def run() -> T:
            # a worker's JVM thread has no active session, and without one
            # driver-side SQLConf reads fall back to defaults (ANSI on, the
            # JVM time zone) instead of this session's confs
            SparkSession._get_j_spark_session_class(spark._jvm).setActiveSession(
                spark._jsparkSession
            )
            return unit()

        return run

    with ThreadPoolExecutor(max_workers=len(units)) as pool:
        futures = [pool.submit(in_session(u)) for u in units]
    return [f.result() for f in futures]


def get_spark(
    app_name: str = "ufc-data-warehouse-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for this workload.

    ``SPARK_GRAFT_CPUS`` (driver contract) sets local parallelism.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # r8 (guide §4/§5 — the driver boundary): Spark 4's Python
        # call-site capture wraps EVERY DataFrame/Column op with a stack
        # walk plus 3 extra py4j round-trips (PySparkCurrentOrigin
        # set/clear + a conf read). Model-layer queries are rebuilt
        # lazily per run, so plan CONSTRUCTION is on the benched path —
        # measured best-of-4: title_reigns build 0.95-1.08 s -> 0.65-0.82 s
        # with capture off, execution unchanged. The only cost is losing
        # Python-line context in error messages (flip to true when
        # debugging). Builder-time only: pyspark caches the flag at
        # first use, so a runtime conf.set would be a silent no-op.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # VERDICT r6 task 4: console progress-bar frames ("[Stage 12:>…]")
        # are written straight to stderr/stdout regardless of log level and
        # were eating the driver's 2,000-char bench stdout-tail margin
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return apply_runtime_confs(builder.getOrCreate())
