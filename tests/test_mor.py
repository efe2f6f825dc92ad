"""Merge-on-read sink mode (Iceberg v2 equality-delete analogue).

The reference's sink always rewrites whole rows into HBase/Kafka; the
COW lakestore already upgrades that to bucket-granular rewrites. MOR is
the next scale regime: when every micro-batch's keys spread across all
buckets (the uniform 10^10-event shape), COW per-batch cost grows with
table size while MOR stays O(batch) — these tests pin the semantics
(MOR state == COW state == sequential oracle, always), the bounded
compaction, and the exactly-once/evolution invariants under MOR.
"""

import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from mysql_tracker_spark.lakestore import LakeTable
from mysql_tracker_spark.runner import CdcApplyJob
from mysql_tracker_spark.sources.binlog_gen import (
    GenConfig,
    expected_final_state,
    gen_change_events,
)

from .conftest import normalize

CFG = GenConfig(n_events=4000, n_conversations=150, seed=5)
CMP = ["conv_id", "turn_idx", "role", "text", "tool", "score"]

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("v", T.StringType()),
    ]
)
CH_SCHEMA = T.StructType(
    list(SCHEMA.fields) + [T.StructField("__delete", T.BooleanType())]
)

B1 = [("a", 1, "x", False), ("a", 2, "y", False), ("b", 1, "z", False)]
B2 = [("a", 1, "x2", False), ("b", 1, None, True), ("c", 5, "w", False)]
B3 = [("a", 2, None, False), ("c", 5, None, True), ("d", 9, "d", False)]


def _mk(path):
    return LakeTable.create(str(path), SCHEMA, ["k", "i"], "k", n_buckets=4)


def _state(spark, t, version=None):
    return sorted(map(tuple, t.read(spark, version=version).collect()))


def test_mor_merge_matches_cow(spark, tmp_path):
    """Same batches (updates, deletes, NULL payloads) through both
    modes -> identical live state; deltas visibly accumulate."""
    cow, mor = _mk(tmp_path / "cow"), _mk(tmp_path / "mor")
    for b in (B1, B2, B3):
        ch = spark.createDataFrame(b, CH_SCHEMA)
        cow.merge(spark, ch)
        mor.merge_mor(spark, ch)
    assert _state(spark, mor) == _state(spark, cow)
    assert sum(mor.delta_counts().values()) > 0
    # read_for_keys resolves deltas AND still opens only owning buckets
    got = sorted(map(tuple, mor.read_for_keys(spark, ["a"]).collect()))
    assert got == [r for r in _state(spark, mor) if r[0] == "a"]


def test_mor_merge_appends_by_reference(spark, tmp_path):
    """A MOR commit must not touch existing entries: base files carry
    forward verbatim and the new entries are delta-stamped with the
    committing version."""
    t = _mk(tmp_path / "t")
    t.merge(spark, spark.createDataFrame(B1, CH_SCHEMA))
    before = t.manifest()["buckets"]
    v, summary = t.merge_mor(spark, spark.createDataFrame(B2, CH_SCHEMA))
    assert summary["operation"] == "merge-mor" and summary["delta_files"] > 0
    after = t.manifest()["buckets"]
    for b, files in before.items():
        assert after[b][: len(files)] == files  # strict append
    new = [fe for fs in after.values() for fe in fs if fe.get("delta")]
    assert new and all(fe["seq"] == v for fe in new)


def test_compact_preserves_content_changelog_and_time_travel(spark, tmp_path):
    t = _mk(tmp_path / "t")
    for b in (B1, B2, B3):
        t.merge_mor(spark, b_df := spark.createDataFrame(b, CH_SCHEMA))
    want = _state(spark, t)
    pre = t.current_version()
    v, compacted = t.compact(spark)
    assert compacted and t.delta_counts() == {}
    assert _state(spark, t) == want
    # changelog across the compaction boundary is provably empty
    assert t.read_changes(spark, pre, v).count() == 0
    # pre-compaction snapshots still delta-resolve (time travel)
    assert _state(spark, t, version=pre) == want
    # idempotent: nothing left to compact
    v2, again = t.compact(spark)
    assert again == [] and v2 == v


def test_cow_merge_over_mor_bucket_resolves_deltas(spark, tmp_path):
    """Mode mixing: a COW merge on buckets holding deltas must build
    its survivor set from the RESOLVED state (raw file reads would
    resurrect superseded rows / drop tombstones)."""
    mix, cow = _mk(tmp_path / "mix"), _mk(tmp_path / "cow")
    for table, use_mor in ((mix, (True, False, True)), (cow, (False,) * 3)):
        for b, m in zip((B1, B2, B3), use_mor):
            ch = spark.createDataFrame(b, CH_SCHEMA)
            (table.merge_mor(spark, ch) if m else table.merge(spark, ch))
    assert _state(spark, mix) == _state(spark, cow)


@pytest.fixture(scope="module")
def wire_stream(tmp_path_factory):
    from mysql_tracker_spark.sources.wire import write_wire_batches

    d = str(tmp_path_factory.mktemp("mor_wire"))
    ev = gen_change_events(CFG)
    write_wire_batches(ev, d, n_batches=5)
    return d, ev


def test_mor_e2e_replay_matches_oracle_with_auto_compaction(
    spark, wire_stream, tmp_path
):
    """The flagship path under write_mode='mor': fenced wire replay ->
    adopt_delta commits (zero-job merges) -> threshold-triggered
    auto-compaction mid-run -> final state equals the sequential
    pandas oracle, including the mid-stream ADD COLUMN + WIDEN DDL
    (deltas committed under different schema_ids align on read)."""
    d, ev = wire_stream
    job = CdcApplyJob(
        spark,
        d,
        str(tmp_path / "t"),
        n_buckets=8,
        source_format="wire",
        write_mode="mor",
        mor_compact_threshold=2,
    )
    stats = job.run()
    assert all(s.write_mode == "mor" for s in stats if not s.skipped)
    assert any(s.compacted_buckets for s in stats), "threshold 2 over 5 batches must compact"
    ops = [
        job.table.manifest(v)["summary"]["operation"]
        for v in range(2, job.table.current_version() + 1)
    ]
    assert "merge-mor" in ops and "compact" in ops and "merge" not in ops
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])
    assert dict(job.table.read(spark).dtypes)["score"] == "bigint"


def test_mor_kill_restart_converges(spark, wire_stream, tmp_path):
    """Exactly-once under MOR: the watermark rides each adopt_delta
    commit, so a killed-and-restarted run skips committed batches and
    converges to the same state."""
    d, ev = wire_stream
    kw = dict(
        n_buckets=8, source_format="wire", write_mode="mor", mor_compact_threshold=3
    )
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    CdcApplyJob(spark, d, p1, **kw).run()
    CdcApplyJob(spark, d, p2, **kw).run(max_batches=2)
    resumed = CdcApplyJob(spark, d, p2, **kw)
    stats = resumed.run()
    assert [s.skipped for s in stats[:2]] == [True, True]
    a = normalize(LakeTable.load(p1).read(spark).toPandas())
    b = normalize(resumed.table.read(spark).toPandas())
    pd.testing.assert_frame_equal(a[CMP], b[CMP])


def test_mor_streaming_matches_oracle(spark, wire_stream, tmp_path):
    """The Structured Streaming front-end inherits the sink mode: a
    wire tail under write_mode='mor' drains to the oracle state, with
    MOR commits and auto-compaction visible in the stats."""
    from mysql_tracker_spark.streaming import CdcStreamJob

    d, ev = wire_stream
    job = CdcStreamJob(
        spark,
        d,
        str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_format="wire",
        n_buckets=8,
        write_mode="mor",
        mor_compact_threshold=2,
    )
    stats = job.run_available()
    applied = [s for s in stats if not s.skipped]
    assert applied and all(s.write_mode == "mor" for s in applied)
    assert any(s.compacted_buckets for s in applied)
    got = normalize(job.job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])


def test_mor_single_delta_bucket_keeps_other_buckets_on_fast_path(spark, tmp_path):
    """A lone delta in one bucket must not drag the whole table through
    the key-agg resolution: delta-free buckets stay on the plain
    aligned scan (no Aggregate over their rows) and the union result
    is exact."""
    t = _mk(tmp_path / "t")
    t.merge(spark, spark.createDataFrame(B1 + [("z", 7, "q", False)], CH_SCHEMA))
    # touch ONLY key "a" via MOR -> exactly one bucket holds deltas
    t.merge_mor(
        spark, spark.createDataFrame([("a", 1, "x9", False)], CH_SCHEMA)
    )
    assert len(t.delta_counts()) == 1
    got = _state(spark, t)
    assert ("a", 1, "x9") in got and ("z", 7, "q") in got
    # plan shape: rows from clean buckets reach the result without an
    # aggregate — the resolved side is one small union branch
    plan = t.read(spark)._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" in plan


def test_mor_snapshot_expiry_keeps_live_deltas(spark, tmp_path):
    """expire_snapshots during MOR operation must never reap a delta
    file the current manifest references; state survives expiry and a
    later compaction."""
    t = _mk(tmp_path / "t")
    for b in (B1, B2, B3):
        t.merge_mor(spark, spark.createDataFrame(b, CH_SCHEMA))
    want = _state(spark, t)
    assert t.expire_snapshots(keep_last=1) > 0
    assert _state(spark, t) == want
    t.compact(spark)
    assert _state(spark, t) == want


def test_pure_cow_table_read_plan_has_no_resolution_agg(spark, tmp_path):
    """Tables that never used MOR pay nothing: the read plan is the
    plain aligned scan — no Aggregate, no Union — byte-for-byte the
    pre-MOR plan shape."""
    t = _mk(tmp_path / "t")
    for b in (B1, B2):
        t.merge(spark, spark.createDataFrame(b, CH_SCHEMA))
    plan = t.read(spark)._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan and "Union" not in plan


def test_mor_commit_retries_on_version_collision(spark, tmp_path):
    """Optimistic-conflict retry (Iceberg commit semantics): a delta
    append that collides with a concurrently-committed version re-reads
    the manifest and lands on the next one, never losing either
    commit's content."""
    import json
    import os

    t = _mk(tmp_path / "t")
    t.merge_mor(spark, spark.createDataFrame(B1, CH_SCHEMA))
    head = t.current_version()
    # force a real collision: the first manifest() read inside
    # _commit_delta sees a STALE version (as if a concurrent writer
    # committed between our read and our commit), so the first
    # _commit targets an existing file and must retry
    real = t.manifest
    calls = {"n": 0}

    def stale(version=None):
        m = real(version)
        if version is None and calls["n"] == 0:
            calls["n"] += 1
            m = dict(m)
            m["version"] -= 1
        return m

    t.manifest = stale
    try:
        fake_entry = {0: [{"path": t.live_files()[0], "schema_id": 0}]}
        v, summary = t._commit_delta(fake_entry, None)
    finally:
        t.manifest = real
    assert calls["n"] == 1  # the stale read really happened
    assert v == head + 1 and summary["operation"] == "merge-mor"
    with open(os.path.join(t.snap_dir, f"v{v:08d}.json")) as f:
        assert json.load(f)["version"] == v


def test_mor_read_changes_across_deltas(spark, tmp_path):
    """Changelog between two MOR snapshots diffs RESOLVED states:
    superseded delta rows and tombstones never leak as phantom ops."""
    t = _mk(tmp_path / "t")
    t.merge_mor(spark, spark.createDataFrame(B1, CH_SCHEMA))
    v1 = t.current_version()
    t.merge_mor(spark, spark.createDataFrame(B2, CH_SCHEMA))
    got = {
        (r["op"], r["k"], r["i"]): r["v"]
        for r in t.read_changes(spark, v1).collect()
    }
    assert got == {
        ("update", "a", 1): "x2",
        ("delete", "b", 1): "z",
        ("insert", "c", 5): "w",
    }


def test_compact_sort_by_range_clusters_and_prunes(spark, tmp_path):
    """Range-clustered compaction (Iceberg rewrite-with-sort-order
    analogue): compact(sort_by="ts", files_per_bucket=K) folds a
    bucket's deltas into ~K files each covering a tight ts interval,
    so read_where keeps SKIPPING files after compaction — a plain
    compaction folds the bucket into one full-history file and a ts
    window must open everything."""
    import datetime as dt

    ts_schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.StringType()),
        ]
    )
    ch_schema = T.StructType(
        list(ts_schema.fields) + [T.StructField("__delete", T.BooleanType())]
    )
    base = dt.datetime(2024, 1, 1)

    def rows(day):
        return [
            (f"k{j % 16}", day * 1000 + j, base + dt.timedelta(days=day, minutes=j), f"v{day}.{j}", False)
            for j in range(100)
        ]

    def build(path):
        t = LakeTable.create(str(path), ts_schema, ["k", "i"], "k", n_buckets=2)
        for day in range(8):
            t.merge_mor(spark, spark.createDataFrame(rows(day), ch_schema))
        return t

    plain, sorted_t = build(tmp_path / "plain"), build(tmp_path / "sorted")
    want = _state(spark, sorted_t)

    plain.compact(spark)
    v, compacted = sorted_t.compact(spark, sort_by="ts", files_per_bucket=4)
    assert compacted and sorted_t.delta_counts() == {}
    # content identical to the unsorted twin and to pre-compaction
    assert _state(spark, sorted_t) == want == _state(spark, plain)

    m = sorted_t.manifest()
    live = [fe for fs in m["buckets"].values() for fe in fs]
    # each bucket split into multiple ts-bounded files, all stat-stamped
    for b, fs in m["buckets"].items():
        assert len(fs) > 1, f"bucket {b} not split"
        assert all("ts" in (fe.get("stats") or {}) for fe in fs)
    # a 1-day window opens strictly fewer files than the live set...
    lo, hi = base + dt.timedelta(days=6), base + dt.timedelta(days=6, hours=12)
    pruned = sorted_t.read_where(spark, "ts", lo=lo, hi=hi)
    opened = {os.path.basename(p) for p in pruned.inputFiles()}
    assert 0 < len(opened) < len(live)
    # ...while the unsorted twin must open its entire live set
    full = plain.read_where(spark, "ts", lo=lo, hi=hi)
    assert len(full.inputFiles()) == len(plain.live_files())
    # and both return exactly the filtered truth
    expect = sorted(r for r in want if lo <= r[2] <= hi)
    assert sorted(map(tuple, pruned.collect())) == expect
    assert sorted(map(tuple, full.collect())) == expect


def test_mor_auto_compaction_range_clusters_when_configured(
    spark, wire_stream, tmp_path
):
    """Job-surface wiring: compact_sort_by='ts' makes threshold-
    triggered MOR auto-compaction range-cluster each folded bucket
    (multiple ts-bounded stat-stamped files), while the final state
    still equals the sequential oracle."""
    d, ev = wire_stream
    job = CdcApplyJob(
        spark,
        d,
        str(tmp_path / "t"),
        n_buckets=4,
        source_format="wire",
        write_mode="mor",
        mor_compact_threshold=2,
        compact_sort_by="ts",
        compact_files_per_bucket=3,
    )
    stats = job.run()
    assert any(s.compacted_buckets for s in stats)
    m = job.table.manifest()
    # the last compact commit records its clustering
    compacts = [
        job.table.manifest(v)["summary"]
        for v in range(2, job.table.current_version() + 1)
        if job.table.manifest(v)["summary"]["operation"] == "compact"
    ]
    assert compacts and all(s["sort_by"] == "ts" for s in compacts)
    # compacted buckets hold >1 BASE file (trailing post-compaction
    # deltas are expected), every base ts-stat-stamped
    bases = {
        b: [fe for fe in fs if not fe.get("delta")]
        for b, fs in m["buckets"].items()
    }
    assert any(len(fs) > 1 for fs in bases.values())
    for fs in bases.values():
        assert all("ts" in (fe.get("stats") or {}) for fe in fs)
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])


def test_compact_sort_by_roundtrips_through_config(spark, tmp_path):
    """O3 wiring: compact_sort_by / compact_files_per_bucket survive a
    JobConfig JSON dump/load and reach the job."""
    from mysql_tracker_spark.config import JobConfig

    cfg = JobConfig(
        input_dir=str(tmp_path / "in"),
        table_path=str(tmp_path / "t"),
        write_mode="mor",
        compact_sort_by="ts",
        compact_files_per_bucket=4,
    )
    p = str(tmp_path / "cfg.json")
    cfg.dump(p)
    job = CdcApplyJob.from_config(spark, JobConfig.load(p))
    assert job.cfg.compact_sort_by == "ts"
    assert job.cfg.compact_files_per_bucket == 4


def test_compact_zorder_prunes_on_both_columns(spark, tmp_path):
    """Z-order compaction (Delta OPTIMIZE ZORDER BY analogue):
    compact(sort_by=["ts","score"]) clusters files along the
    interleaved-bit curve, so a range read on EITHER column skips
    files — the single-column sort twin prunes only on its own column
    and must open every file for the other. Content identical in all
    layouts."""
    import datetime as dt

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("score", T.IntegerType()),
        ]
    )
    ch = T.StructType(list(schema.fields) + [T.StructField("__delete", T.BooleanType())])
    base = dt.datetime(2024, 1, 1)
    # ts and score are independent permutations of each other
    rows = [
        (f"k{j % 16}", j, base + dt.timedelta(minutes=j), (j * 7919) % 1600, False)
        for j in range(1600)
    ]

    def build(path):
        t = LakeTable.create(str(path), schema, ["k", "i"], "k", n_buckets=2)
        t.merge_mor(spark, spark.createDataFrame(rows, ch))
        return t

    zt, lin = build(tmp_path / "z"), build(tmp_path / "lin")
    want = _state(spark, zt)

    zt.compact(spark, sort_by=["ts", "score"], files_per_bucket=8)
    lin.compact(spark, sort_by="ts", files_per_bucket=8)
    assert _state(spark, zt) == want == _state(spark, lin)

    n_z, n_lin = len(zt.live_files()), len(lin.live_files())
    assert n_z > 2 and n_lin > 2

    def opened(t, col, lo, hi):
        df = t.read_where(spark, col, lo=lo, hi=hi)
        got = sorted(map(tuple, df.collect()))
        idx = [f.name for f in schema.fields].index(col)
        assert got == [r for r in want if lo <= r[idx] <= hi]
        return len(df.inputFiles())

    # narrow ts window: both layouts prune
    lo_ts, hi_ts = base + dt.timedelta(minutes=600), base + dt.timedelta(minutes=700)
    assert opened(zt, "ts", lo_ts, hi_ts) < n_z
    assert opened(lin, "ts", lo_ts, hi_ts) < n_lin
    # narrow score range: ONLY the z-ordered layout prunes
    assert opened(zt, "score", 100, 200) < n_z
    assert opened(lin, "score", 100, 200) == n_lin


def test_read_where_all_conjunction_prunes_harder_than_either(spark, tmp_path):
    """Z-order + 2-D box read: read_where_all prunes on BOTH columns at
    once — opens no more files than either single-column read, and
    returns exactly the conjunctive truth."""
    import datetime as dt

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("score", T.IntegerType()),
        ]
    )
    ch = T.StructType(list(schema.fields) + [T.StructField("__delete", T.BooleanType())])
    base = dt.datetime(2024, 1, 1)
    rows = [
        (f"k{j % 16}", j, base + dt.timedelta(minutes=j), (j * 7919) % 1600, False)
        for j in range(1600)
    ]
    t = LakeTable.create(str(tmp_path / "t"), schema, ["k", "i"], "k", n_buckets=2)
    t.merge_mor(spark, spark.createDataFrame(rows, ch))
    t.compact(spark, sort_by=["ts", "score"], files_per_bucket=8)
    want = _state(spark, t)

    lo_ts, hi_ts = base + dt.timedelta(minutes=400), base + dt.timedelta(minutes=800)
    lo_s, hi_s = 100, 500
    both = t.read_where_all(spark, {"ts": (lo_ts, hi_ts), "score": (lo_s, hi_s)})
    got = sorted(map(tuple, both.collect()))
    assert got == [
        r for r in want if lo_ts <= r[2] <= hi_ts and lo_s <= r[3] <= hi_s
    ]
    n_both = len(both.inputFiles())
    n_ts = len(t.read_where(spark, "ts", lo=lo_ts, hi=hi_ts).inputFiles())
    n_s = len(t.read_where(spark, "score", lo=lo_s, hi=hi_s).inputFiles())
    assert 0 < n_both <= min(n_ts, n_s) < len(t.live_files())


# ---------------------------------------------------------------- one-scan
# merge-on-read resolution: base and delta files of a schema id are read
# by ONE parquet relation, each row's commit seq looked up from its file


def _oracle(*batches):
    """Sequential LWW oracle of change batches ``(k, i, v, __delete)``."""
    live = {}
    for b in batches:
        for k, i, v, d in b:
            if d:
                live.pop((k, i), None)
            else:
                live[(k, i)] = v
    return sorted((k, i, v) for (k, i), v in live.items())


def _parquet_relations(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return len(re.findall(r"Relation \[[^\]]*\] parquet", plan))


def test_mor_tombstone_beats_base_and_later_delta_resurrects(spark, tmp_path):
    t = _mk(tmp_path / "t")
    t.merge(spark, spark.createDataFrame(B1, CH_SCHEMA))
    kill = [("a", 1, None, True)]
    back = [("a", 1, "back", False)]
    t.merge_mor(spark, spark.createDataFrame(kill, CH_SCHEMA))
    v_dead = t.current_version()
    t.merge_mor(spark, spark.createDataFrame(back, CH_SCHEMA))
    assert _state(spark, t, version=v_dead) == _oracle(B1, kill)
    assert _state(spark, t) == _oracle(B1, kill, back)
    got = sorted(map(tuple, t.read_for_keys(spark, ["a"]).collect()))
    assert got == [r for r in _oracle(B1, kill, back) if r[0] == "a"]


def test_mor_one_scan_across_add_and_rename_column(spark, tmp_path):
    """Deltas on both sides of an ADD COLUMN and a RENAME COLUMN: every
    schema id's base and delta files resolve together, equal to the
    COW twin."""
    cow, mor = _mk(tmp_path / "cow"), _mk(tmp_path / "mor")
    s2 = T.StructType(list(SCHEMA.fields) + [T.StructField("w", T.LongType())])
    ch2 = T.StructType(list(s2.fields) + [CH_SCHEMA["__delete"]])
    s3 = T.StructType([*SCHEMA.fields[:2], T.StructField("v2", T.StringType()), s2["w"]])
    ch3 = T.StructType(list(s3.fields) + [CH_SCHEMA["__delete"]])
    b2 = [("a", 1, "x3", 7, False), ("e", 4, "n", 8, False), ("b", 1, None, None, True)]
    b3 = [("a", 2, "y3", 9, False), ("e", 4, None, None, True), ("f", 6, "f", 1, False)]
    for t in (cow, mor):
        t.merge(spark, spark.createDataFrame(B1, CH_SCHEMA))
        write = t.merge if t is cow else t.merge_mor
        write(spark, spark.createDataFrame(B2, CH_SCHEMA))
        t.update_schema(s2)
        write(spark, spark.createDataFrame(b2, ch2))
        t.rename_column("v", "v2")
        write(spark, spark.createDataFrame(b3, ch3))
    assert len(mor.manifest()["schemas"]) == 3
    assert _state(spark, mor) == _state(spark, cow)
    keys = ["a", "e", "f"]
    assert sorted(map(tuple, mor.read_for_keys(spark, keys).collect())) == sorted(
        map(tuple, cow.read_for_keys(spark, keys).collect())
    )


def test_mor_deltas_over_post_split_shared_entries(spark, tmp_path):
    t = _mk(tmp_path / "t")
    t.merge(spark, spark.createDataFrame(B1 + [("z", 7, "q", False)], CH_SCHEMA))
    t.split_buckets(2)
    assert t.shared_buckets()
    t.merge_mor(spark, spark.createDataFrame(B2, CH_SCHEMA))
    t.merge_mor(spark, spark.createDataFrame(B3, CH_SCHEMA))
    want = _oracle(B1 + [("z", 7, "q", False)], B2, B3)
    assert _state(spark, t) == want
    # a point read opens a partial sibling set: residual filters engage
    for key in ("a", "z"):
        got = sorted(map(tuple, t.read_for_keys(spark, [key]).collect()))
        assert got == [r for r in want if r[0] == key]


def test_mor_one_scan_under_encoded_table_root(spark, tmp_path):
    """File URIs are percent-encoded: a root holding '/data/', a space
    and '%' must still map every scanned row to its manifest entry (the
    seq lookup and the bloom stamping share that mapping)."""
    t = LakeTable.create(
        str(tmp_path / "data" / "a b%25c" / "t"), SCHEMA, ["k", "i"], "k",
        n_buckets=2, bloom_cols=["v"],
    )
    t.merge(spark, spark.createDataFrame(B1, CH_SCHEMA))
    for b in (B2, B3):
        t.merge_mor(spark, spark.createDataFrame(b, CH_SCHEMA))
    assert _state(spark, t) == _oracle(B1, B2, B3)
    entries = [fe for fs in t.manifest()["buckets"].values() for fe in fs]
    assert all("v" in fe.get("bloom", {}) for fe in entries)
    assert t.validate(spark, deep=True)["ok"]


def test_mor_user_column_named_metadata(spark, tmp_path):
    s = T.StructType([*SCHEMA.fields[:2], T.StructField("_metadata", T.StringType())])
    ch = T.StructType(list(s.fields) + [CH_SCHEMA["__delete"]])
    cow, mor = (
        LakeTable.create(str(tmp_path / n), s, ["k", "i"], "k", n_buckets=2)
        for n in ("cow", "mor")
    )
    for b in (B1, B2, B3):
        cow.merge(spark, spark.createDataFrame(b, ch))
        mor.merge_mor(spark, spark.createDataFrame(b, ch))
    assert _state(spark, mor) == _state(spark, cow) == _oracle(B1, B2, B3)


def test_mor_read_plans_one_relation_per_schema_id(spark, tmp_path):
    """Plan shape next to the pure-COW one: a resolution scope plans one
    parquet relation per schema id, however many delta commits it
    holds."""
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, ["k", "i"], "k", n_buckets=1)
    t.merge(spark, spark.createDataFrame(B1, CH_SCHEMA))
    for n_deltas, b in enumerate((B2, B3, [("a", 1, "x4", False)]), start=1):
        t.merge_mor(spark, spark.createDataFrame(b, CH_SCHEMA))
        if n_deltas in (1, 3):
            assert t.delta_counts() == {0: n_deltas}
            assert _parquet_relations(t.read(spark)) == 1
            assert _parquet_relations(t.read_for_keys(spark, ["a"])) == 1
    t.update_schema(T.StructType(list(SCHEMA.fields) + [T.StructField("w", T.LongType())]))
    t.merge_mor(
        spark,
        spark.createDataFrame(
            [("d", 9, "d2", 1, False)], "k string, i int, v string, w long, __delete boolean"
        ),
    )
    assert _parquet_relations(t.read(spark)) == 2
    assert _parquet_relations(t.read_for_keys(spark, ["d"])) == 2
