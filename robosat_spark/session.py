"""SparkSession factory tuned for the engine.

Local-mode settings mirror what a 1000-executor cluster deployment would set
per-executor: AQE on (runtime coalesce + skew-join backstop), Arrow enabled
for every pandas UDF, shuffle partitions sized to the parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "robosat_spark", cores: int | None = None, shuffle_partitions: int | None = None) -> SparkSession:
    # Python workers import this package by name (pandas UDFs close over
    # kernels); make the repo root visible to them regardless of the
    # driver's cwd — the local-mode equivalent of spark-submit --py-files.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores * 2, 8)
    builder = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    # measurement aid (guide §1/§7): SPARK_GRAFT_EVENTLOG=<dir> writes the
    # JSON event log so per-stage/job walls can be analyzed offline without
    # the live UI. Off by default — zero effect on timed runs.
    ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if ev_dir:
        os.makedirs(ev_dir, exist_ok=True)
        builder = builder.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", ev_dir
        )
    # deployment/experiment escape hatch: SPARK_GRAFT_SPARK_CONF="k=v;k=v"
    # overlays arbitrary session confs (e.g. cluster-size-specific shuffle
    # tuning) without editing code; empty by default so timed runs are
    # byte-identical to the stock configuration.
    extra = os.environ.get("SPARK_GRAFT_SPARK_CONF", "")
    for kv in filter(None, (p.strip() for p in extra.split(";"))):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()
