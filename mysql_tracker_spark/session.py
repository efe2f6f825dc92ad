"""SparkSession factory tuned for the CDC apply pipeline.

Local-mode testing uses ``local[N]``; at cluster scale the same builder
options hold (AQE on, Arrow on, shuffle partitions sized to cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def engine_sql_conf(cores: int) -> dict[str, str]:
    """Runtime SQL confs every session running the engine gets, for a
    session of ``cores`` task slots: applied by :func:`get_spark` and by
    the spark-submit entry (scripts/submit_apply.py), which passes its
    ``defaultParallelism`` once the session is up."""
    return {
        # List a read's files on the driver, never with Spark's
        # distributed leaf-file listing job (one task per path past the
        # default threshold of 32): the lakestore is local-FS only and
        # its manifest already names every file, so that job would only
        # add a scheduling round to every read of a >32-bucket set.
        "spark.sql.sources.parallelPartitionDiscovery.threshold": str(2**31 - 1),
        # At most one scan partition per core, the shuffle-partition
        # rule: a bucketed read opens one small file per bucket, and the
        # 4 MB open cost per file otherwise keeps every file in a split
        # of its own (a 64-bucket scan = 64 tasks). Spark repacks the
        # splits into at most this many partitions but never cuts a
        # file finer, so a batch's single wire file still decodes in one
        # task (lowering spark.sql.files.openCostInBytes instead would
        # split it).
        "spark.sql.files.maxPartitionNum": str(cores),
    }


def get_spark(
    app_name: str = "mysql-tracker-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle
    partitions default to the core count — on a real cluster you would
    size this to total executor cores (AQE coalesces the tail).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # TIMESTAMP_MICROS, not the legacy INT96 default: INT96 is
        # deprecated in parquet AND carries no row-group min/max
        # statistics, which kills both parquet predicate pushdown on
        # ts and the eventlog's footer-derived segment stats
        # (eventlog._dir_stats / read_range pruning)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config(map=engine_sql_conf(cores))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
