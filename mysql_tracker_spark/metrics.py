"""Ops/monitoring aggregations (SURVEY.md §2.7 M1-M5).

The reference runs counter objects + timer threads
(``monitor/TrackerMonitor.java:16-64,153-192``) and sends JSON monitor
records to a Kafka topic. Here the per-batch counters are written as
lineage JSONL next to the table (runner._append_lineage); this module
reads them back as DataFrames and derives the reference's derived
metrics (per-minute windows, lag, backlog).
"""

from __future__ import annotations

import dataclasses
import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .runner import ApplyStats


def _lineage_schema() -> T.StructType:
    """The reader schema of ``lineage.jsonl``: one column per
    :class:`~mysql_tracker_spark.runner.ApplyStats` field plus the
    writer's ``ts_ms``. Scalars are typed from the annotation; dict and
    list fields read as their JSON text."""
    scalar = {"int": T.LongType(), "float": T.DoubleType(), "bool": T.BooleanType()}
    named = [(f.name, str(f.type).split(" |")[0]) for f in dataclasses.fields(ApplyStats)]
    return T.StructType(
        [T.StructField(n, scalar.get(t, T.StringType())) for n, t in named]
        + [T.StructField("ts_ms", T.LongType())]
    )


LINEAGE_JSON_SCHEMA = _lineage_schema()


def lineage_df(spark: SparkSession, table_path: str) -> DataFrame:
    """The engine's checkpoint/lineage log as a DataFrame (M1 per-batch
    fetch/persist counters + durations)."""
    path = os.path.join(table_path, "lineage.jsonl")
    return spark.read.schema(LINEAGE_JSON_SCHEMA).json(path)


def throughput_summary(spark: SparkSession, table_path: str) -> DataFrame:
    """Aggregate apply throughput (events/s) and lag over the run."""
    ln = lineage_df(spark, table_path)
    return ln.agg(
        F.sum("rows_in").alias("events_total"),
        F.sum("rows_applied").alias("dml_total"),
        (F.sum("rows_in") / (F.sum("wall_ms") / 1000.0)).alias("events_per_sec"),
        F.max("lag_s").alias("max_lag_s"),
        F.max("pos_end").alias("head_pos"),
    )


def per_minute_windows(spark: SparkSession, table_path: str) -> DataFrame:
    """M2: tumbling per-minute fetch counters over batch completion
    times (the reference's minute timer)."""
    ln = lineage_df(spark, table_path).withColumn(
        "ts", F.timestamp_millis(F.col("ts_ms"))
    )
    return (
        ln.groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.sum("rows_in").alias("fetch_num"), F.sum("rows_applied").alias("persist_num"))
        .select(F.col("w.start").alias("minute"), "fetch_num", "persist_num")
    )


def backlog(spark: SparkSession, table_path: str, input_df: DataFrame) -> DataFrame:
    """M5 'over stock': distance from the input head to the last
    committed position."""
    head = input_df.agg(
        F.max(F.struct("file", "pos")).alias("h")
    ).select(F.col("h.file").alias("head_file"), F.col("h.pos").alias("head_pos"))
    from .lakestore import LakeTable

    p = LakeTable.load(table_path).properties()
    return head.select(
        "head_file",
        "head_pos",
        F.lit(p.get("offset_file")).alias("committed_file"),
        F.lit(int(p["offset_pos"]) if "offset_pos" in p else None).alias("committed_pos"),
        (
            F.col("head_pos") - F.lit(int(p["offset_pos"]) if "offset_pos" in p else 0)
        ).alias("backlog_bytes_hint"),
    )
