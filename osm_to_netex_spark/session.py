"""SparkSession factory with scale-oriented defaults.

AQE (adaptive re-plan, skew-join splitting, partition coalescing) is on by
default: at the 100 TB design point the dominant risks are skewed dense-city
cells and over-partitioned shuffles, both of which AQE mitigates at runtime.
Arrow is enabled for the (few) pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # documents rows are wide (span arrays); keep scan partitions modest
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
}


def get_spark(
    app_name: str = "osm_to_netex_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a session.

    ``cores``: n → ``local[n]``; None → the CPUs in this process's affinity
    mask (run under ``taskset`` to use fewer).
    ``shuffle_partitions`` defaults to 2× cores (AQE coalesces down).
    """
    cores = len(os.sched_getaffinity(0)) if cores is None else int(cores)
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * cores)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
