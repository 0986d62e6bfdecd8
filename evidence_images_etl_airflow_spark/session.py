"""SparkSession factory (SURVEY.md §7 M0).

The reference runs single-process pandas inside Celery workers
(docker-compose.yaml:119-139); here one SparkSession owns the whole
pipeline. Defaults are tuned so the same code runs on local[N] for
tests and scales to a multi-executor cluster unchanged:

- AQE on: runtime re-plan (coalesce post-shuffle partitions, skew-join
  splitting, dynamic broadcast) — essential at 100 TB where static
  planning guesses wrong.
- shuffle.partitions sized to the local core count for tests; on a real
  cluster leave it to AQE's coalescing (initialPartitionNum high).
- UTC session timezone so timestamp semantics match the DuckDB oracle
  and are stable across executor locales.
- Arrow enabled for the pandas boundary (the only place the reference's
  pyarrow usage survives — blob_ingestion.py:25-27 is otherwise
  replaced by Spark's native vectorized parquet reader).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else 32g or half the host's
    physical memory, whichever is less: a heap sized past the host's
    memory lets the JVM be killed mid-run once its use grows."""
    half_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 >> 20
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{min(32 << 10, half_mib)}m"


def get_session(
    app_name: str = "evidence-images-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    On a cluster, ``master`` comes from spark-submit and the local[...]
    default is ignored; every other setting below is cluster-safe.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # --- planner / optimizer ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(cpus))
        # --- semantics ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.caseSensitive", "false")  # reference matches
        # columns case-insensitively (filter_columns.py:10)
        # --- python boundary ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- local-mode ergonomics ---
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def parallel_actions(spark: SparkSession, thunks: list[Callable[[], Any]]) -> list:
    """Run independent Spark actions concurrently; results in input order.

    The one thread pool in the package. Pre-flight statistics are small
    independent jobs, so submitting them together lets the scheduler
    interleave their tasks: wall clock ~max instead of sum. Each thunk
    runs with the caller's Spark local properties (job group and
    description, scheduler pool, tags), so ``cancelJobGroup`` reaches
    its jobs and they are attributed to the caller's query; a nested
    call copies what the outer one set. The first exception, in input
    order, propagates once every thunk has finished.
    """
    keep_context = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=min(4, len(thunks))) as pool:
        futures = [pool.submit(keep_context(t)) for t in thunks]
        return [f.result() for f in futures]
