"""SparkSession builder with the engine's standard configuration.

Tuned for the execution model described in SURVEY.md §4.2: AQE on (runtime
re-planning + skew-join splitting matters for LSH band joins over
boilerplate-heavy corpora), Arrow on (every scorer crosses the Python
boundary in batches, never per row).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

__all__ = ["build_session", "job_phase"]

_DESCRIPTION = "spark.job.description"


def build_session(
    master: str | None = None,
    app_name: str = "fuzzy-matching-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or reuse) a session with the engine defaults.

    In a plain Python process ``master`` defaults to
    ``local[$SPARK_GRAFT_CPUS]`` and ``shuffle_partitions`` to 32, the
    driver memory is ``$SPARK_GRAFT_DRIVER_MEM`` (8g) and the UI is off.
    Under spark-submit (which hands PySpark its gateway through
    ``PYSPARK_GATEWAY_PORT``) an unset master or partition count, the
    driver memory and the UI are left to the launcher: builder options
    override the launcher's conf, so setting them here would replace
    ``--master``, ``--driver-memory`` and the ``--conf`` values.
    """
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
        shuffle_partitions = shuffle_partitions or 32
        extra_conf = {
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            "spark.ui.enabled": "false",
            **(extra_conf or {}),
        }

    # glibc returns mmap'd allocations (>=128 KB) to the OS on free, so
    # numpy-heavy UDF workers re-fault the same pages on every Arrow batch —
    # at this sandbox's ~0.13 ms/page first-touch cost that multiplied some
    # kernel batches 5-10x.  Raising the thresholds makes workers retain
    # and reuse arena memory (bounded by their steady-state footprint).
    malloc_env = {
        "MALLOC_MMAP_THRESHOLD_": "1073741824",
        "MALLOC_TRIM_THRESHOLD_": "1073741824",
    }
    os.environ.update(malloc_env)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # workers fork from a daemon that has already imported
        # numpy/pandas/pyarrow + our kernels: the pages are shared COW, so
        # the first Python stage doesn't pay N_workers x (import + first-
        # touch page faults); the daemon also keeps a reused worker's
        # per-task set-up flat (no zip directory re-reads, a frozen
        # inherited heap) — see worker_daemon.py
        .config(
            "spark.python.daemon.module",
            "fuzzy_matching_spark.pipeline.worker_daemon",
        )
        .config("spark.ui.showConsoleProgress", "false")
    )
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in malloc_env.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def job_phase(spark: SparkSession, description: str):
    """Describe the Spark jobs issued inside as ``description`` (the event
    log's and UI's ``spark.job.description``), then restore the caller's
    description.  The job group is left alone: a caller may group a whole
    run under it."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty(_DESCRIPTION)
    sc.setLocalProperty(_DESCRIPTION, description)
    try:
        yield
    finally:
        sc.setLocalProperty(_DESCRIPTION, outer)
