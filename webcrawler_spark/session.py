"""SparkSession factory tuned for the frontier workload.

local[N] in-sandbox; the same config block is what we'd pass to
spark-submit on a real cluster (AQE, Arrow, shuffle sizing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def session_confs(shuffle_partitions: int) -> dict[str, str]:
    """The workload's Spark conf block, as a dict so a spark-submit
    launcher (cluster deploys) can pass the exact same settings as
    ``--conf`` flags that ``get_spark`` applies in-process."""
    confs = {
        # Arrow for every pandas-UDF crossing (the only JVM↔Python boundary)
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # AQE: runtime coalesce + skew-join splitting for hot hosts
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # runtime bloom filters on shuffle joins (Catalyst-injected)
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        # keep stdout/stderr clean for harnesses that parse output lines
        # (the driver's bench tail window is small; progress bars pollute it)
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.autoBroadcastJoinThreshold": "32m",
    }
    # shuffle/spill on tmpfs when available: local-mode shuffle writes are
    # disk I/O otherwise, which caps scaling (on a real cluster this is the
    # executors' local SSDs)
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        confs["spark.local.dir"] = local_dir
    return confs


def get_spark(
    app_name: str = "webcrawler-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    for k, v in session_confs(shuffle_partitions).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
