"""SparkSession construction with the engine's standard configuration.

The engine targets large multi-executor clusters (the reference runs as a
Chapel multi-locale server); in this sandbox we run ``local[N]``. All knobs
that matter for the iterative graph kernels are set here so every entry
point (tests, bench, spark-submit) gets the same execution profile:

* AQE on (skew-join splitting + runtime re-plan) — replaces the reference's
  hand-written locale-aware kernels (see SURVEY.md §4).
* ``spark.sql.shuffle.partitions`` == the graph partition count so that the
  per-iteration ``state ⋈ edges → groupBy`` pipeline reuses the edge table's
  hash partitioning instead of re-shuffling the (large, cached) edge side.
* Arrow enabled for the vectorized pandas UDF path (link extraction,
  multimodal decode) — per BASELINE.json input_hint: no per-row Python.
* Session timezone pinned to UTC for oracle (DuckDB) comparability.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_PARTITIONS = 32
MAX_DRIVER_MEMORY_MB = 48 * 1024


def default_driver_memory() -> str:
    """``spark.driver.memory`` default: the smaller of 48g and half of
    physical RAM.

    Local-mode executors share the driver JVM heap: 8g starved the
    32-thread shuffle/persist working set at sf0.1 (measured ~10% slower
    end-to-end than 48g on an idle host). -Xmx is a cap, not a
    reservation, but a cap above the machine's RAM lets the heap grow
    until the kernel OOM-kills the JVM (seen at ~15 GB RSS on a 16 GB
    host), so the cap leaves the other half to Python workers and the OS.
    """
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (AttributeError, OSError, ValueError):  # no sysconf (non-POSIX)
        return f"{MAX_DRIVER_MEMORY_MB}m"
    return f"{min(MAX_DRIVER_MEMORY_MB, ram_mb // 2)}m"


def get_spark(
    master: str | None = None,
    app_name: str = "arkouda-njit-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster, omit ``master`` and launch via ``spark-submit``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(master)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
