"""SparkSession factory.

Local testing runs one JVM with N threads (local[N]); the configuration is
nevertheless written for a real multi-executor cluster: AQE on (runtime
re-planning, partition coalescing, skew-join splitting), Arrow on (fast
pandas-UDF boundary), shuffle partitions sized to the environment rather
than the 200 default, and cores and driver heap to the host.

Python workers come from `big_data_player_analysis_spark.pyworker`, set
as `spark.python.daemon.module`. pyspark re-reads every zip directory on
the worker path before each task (pyspark.zip, the py4j zip and the
spark-core jar, 16 importers in all, ~0.2 s of CPU per task on CPython <
3.13); that daemon re-reads an archive only when it changed on disk.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from big_data_player_analysis_spark.workspace import spark_local_dir


def host_cpus() -> int:
    """Cores this process may run on (its affinity mask, not the machine)."""
    return len(os.sched_getaffinity(0))


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        return int(next(line for line in f if line.startswith("MemTotal")).split()[1])


def _default_driver_memory() -> str:
    """Half of physical memory in whole GiB, at least 1g and at most 48g."""
    return f"{max(1, min(48, _mem_total_kb() // (2 * 1024 * 1024)))}g"


def get_spark(
    app_name: str = "bdpa-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Honors SPARK_GRAFT_CPUS for local parallelism (default: `host_cpus()`)
    and SPARK_DRIVER_MEMORY for the driver heap (default: half of physical
    memory, at most 48g). On a real cluster the master/partitions come from
    spark-submit; everything here is still valid (AQE decides final
    partition counts at runtime).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cpus())
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    # Python workers unpickle UDF references to this package by NAME, so
    # the package root must be importable in the worker process — which
    # inherits the driver JVM's environment, not the driver's sys.path.
    # Running the driver from any cwd outside the repo (a notebook, a
    # /tmp scratch dir, spark-submit from elsewhere) otherwise fails
    # every pandas_udf/mapInPandas entry with a worker ImportError
    # (caught by the round-4 cross-scale sweep, which ran from /tmp).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOT set: adaptive.coalescePartitions.initialPartitionNum. The
        # high-initial-width + AQE-coalesce recipe was A/B-measured here
        # (interleaved runs of the heaviest shuffle, the jaccard verify,
        # at 16x): 8x initial width was consistently 1.8-7x SLOWER than
        # the flat core-count width in this single-JVM local mode — the
        # extra task waves and 8x-fan-in shuffle reads cost more than the
        # per-task sort memory they save. On a real multi-executor
        # cluster this knob belongs in spark-submit tuning, not baked in.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "big_data_player_analysis_spark.pyworker")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # async block/broadcast cleanup: iterative plans (plans/heroic.py)
        # retire a broadcast + checkpoint per iteration, and blocking
        # ContextCleaner RPCs stall the first job submitted afterwards
        .config("spark.cleaner.referenceTracking.blocking", "false")
        # shuffle spill / block-manager disk / broadcast files go to the
        # managed workspace, not bare /tmp: tools wipe dead-JVM leftovers
        # on startup, so a killed run can't starve the next one of disk
        # (the round-4 driver lost 6 correctness rows to exactly that)
        .config("spark.local.dir", spark_local_dir())
        # implicit (memory-sink) streaming checkpoints are temp dirs; make
        # Spark delete them even when the query errors out
        .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
