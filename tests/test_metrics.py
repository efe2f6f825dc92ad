"""Lineage/metrics surface (M1-M5) and golden dump."""

import json
import os

from mysql_tracker_spark.debug import entry_print, golden_dump
from mysql_tracker_spark.metrics import (
    backlog,
    lineage_df,
    per_minute_windows,
    throughput_summary,
)
from mysql_tracker_spark.runner import CdcApplyJob
from mysql_tracker_spark.schema import CHANGE_EVENT_SCHEMA
from mysql_tracker_spark.sources.binlog_gen import GenConfig, gen_change_events, write_batches


def test_lineage_and_metrics(spark, tmp_path):
    ev = gen_change_events(GenConfig(n_events=2000, n_conversations=80, seed=13))
    in_dir = str(tmp_path / "in")
    tbl = str(tmp_path / "tbl")
    write_batches(ev, in_dir, n_batches=3)
    job = CdcApplyJob(spark, in_dir, tbl, n_buckets=4)
    stats = job.run()

    ln = lineage_df(spark, tbl)
    assert ln.count() == len(stats) == 3
    # the reader schema is every key the writer emits
    with open(os.path.join(tbl, "lineage.jsonl")) as f:
        assert set(ln.columns) == set(json.loads(f.readline()))
    row = throughput_summary(spark, tbl).collect()[0]
    assert row.events_total == sum(s.rows_in for s in stats)
    assert row.events_per_sec > 0
    assert per_minute_windows(spark, tbl).count() >= 1

    inp = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(in_dir)
    b = backlog(spark, tbl, inp).collect()[0]
    assert b.committed_pos == b.head_pos  # fully caught up


def test_golden_dump_and_print(spark, tmp_path):
    ev = gen_change_events(GenConfig(n_events=500, n_conversations=30, seed=2))
    in_dir = str(tmp_path / "in")
    write_batches(ev, in_dir, n_batches=1)
    df = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(in_dir)
    out = str(tmp_path / "golden")
    golden_dump(df, out)
    assert spark.read.json(out).count() == df.count()
    txt = entry_print(df, n=3)
    assert "bin.000001" in txt
