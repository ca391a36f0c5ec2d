"""SparkSession factory tuned for the CDC engine.

Local-mode defaults mirror what a 1000-executor cluster deployment would
set cluster-wide: AQE on (runtime coalesce + skew-join), Arrow transfer
for the vectorized pandas stages, deterministic shuffle partitioning,
UTC session time zone so timestamp round-trips are stable across the
DuckDB oracle and Spark.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def default_driver_memory() -> str:
    """Half the host's physical memory in whole GiB (at least 1g, at
    most 24g): in local mode the driver JVM also hosts the executors,
    and the other half stays for the Python workers and the page
    cache."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, phys // 2**31))}g"


def get_spark(
    app_name: str = "picsure-dictionary-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so the bench
    harness can pin parallelism (the N vs 4N scaling evidence runs the
    identical job at local[8] and local[32]).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    # Local-mode Python workers inherit the JVM's environment, NOT the
    # driver's sys.path — a user script run from outside the repo (e.g.
    # `sys.path.insert(0, ...)` then get_spark()) would crash inside any
    # mapInPandas closure that imports this package. Export the package
    # parent onto PYTHONPATH before the JVM launches so worker imports
    # resolve regardless of caller cwd. Cluster deployments ship the
    # package via --py-files (see jobs/replay_job.py) instead.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize Python-worker round-trips in the
        # (single) vectorized UDF stage
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
