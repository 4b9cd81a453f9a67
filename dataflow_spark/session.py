"""SparkSession factory with scale-oriented defaults.

Tuned for correctness on local[*] test runs while keeping every knob
appropriate for a large cluster: AQE on (runtime coalescing + skew-join
handling), Arrow on (pandas_udf fast path), shuffle partitions sized by
env so the same code runs at sf0.001 and at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dataflow-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults matter at scale:
      - AQE enabled: runtime partition coalescing, skew-join splitting,
        and dynamic join-strategy switch (sort-merge -> broadcast).
      - Arrow enabled: vectorized pandas_udf / mapInPandas transfers.
      - ``local[N]`` and ``spark.sql.shuffle.partitions`` = max(2N, 8),
        N from $SPARK_GRAFT_CPUS, else the CPUs this process may run on;
        on a real cluster set it ~2-3x total cores (AQE coalesces down).
      - Python workers run under ``dataflow_spark.pyworker``, a PySpark
        daemon that stops each task from re-reading the unchanged
        pyspark.zip and spark-core jar (0.2-0.3 s per task otherwise).
        In local mode the directory holding the package goes on the
        workers' ``PYTHONPATH``, so the daemon imports from any cwd; on
        a cluster, executors need the package installed, as the
        serving-backed operators already do. ``extra_conf`` overrides
        any default, e.g. ``{"spark.python.daemon.module":
        "pyspark.daemon"}``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) * 2, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # apply AQE inside persisted plans too (default false): without
        # it a cached shuffle keeps the static partition count, so every
        # cache read schedules spark.sql.shuffle.partitions tasks no
        # matter how small the data — at any scale the cache should hold
        # advisory-sized partitions, not the static count
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.session.timeZone", "UTC")
        # TIMESTAMP(NANOS) parquet columns surface as long nanos; readers
        # convert with `ts DIV 1000` -> timestamp_micros (sources/readers.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "dataflow_spark.pyworker")
    )
    if master.startswith("local"):
        package_root = os.path.dirname(os.path.dirname(__file__))
        builder = builder.config("spark.executorEnv.PYTHONPATH",
                                 os.path.abspath(package_root))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
