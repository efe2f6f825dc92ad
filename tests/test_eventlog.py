"""Append-only event-log pipeline (§3.3 HBase handler re-expressed):
monotone dense seq across batches and replays, exactly-once append,
kill/restart convergence, filter pass-through for txn markers."""

import pandas as pd
from pyspark.sql import functions as F

from mysql_tracker_spark.eventlog import EventLogJob
from mysql_tracker_spark.sources.binlog_gen import (
    GenConfig,
    gen_change_events,
    write_batches,
)

CFG = GenConfig(n_events=2500, n_conversations=100, seed=33)


def _mk(spark, tmp_path, **kw):
    ev = gen_change_events(CFG)
    d = str(tmp_path / "in")
    write_batches(ev, d, n_batches=3)
    return ev, EventLogJob(spark, d, str(tmp_path / "log"), **kw)


def test_eventlog_append_seq_and_exactly_once(spark, tmp_path):
    ev, job = _mk(spark, tmp_path)
    stats = job.run()
    # the generator appends an exact replay-duplicate tail (dup_frac);
    # the offset fence drops it — the log holds each event ONCE
    n_unique = len(ev.drop_duplicates(["file", "pos", "row_idx"]))
    assert n_unique < len(ev)  # the duplicate tail really exists
    assert sum(s.rows_appended for s in stats) == n_unique
    log = job.read()
    n = log.count()
    assert n == n_unique
    # dense monotone rowkey 0..n-1, and seq order == log order
    agg = log.agg(
        F.min("seq").alias("lo"), F.max("seq").alias("hi"),
        F.count_distinct("seq").alias("d"),
    ).collect()[0]
    assert (agg["lo"], agg["hi"], agg["d"]) == (0, n - 1, n)
    by_seq = [tuple(r) for r in log.orderBy("seq").select("file", "pos", "row_idx").collect()]
    by_log = [
        tuple(r)
        for r in log.orderBy("file", "pos", "row_idx").select("file", "pos", "row_idx").collect()
    ]
    assert by_seq == by_log
    # every event class persisted (the reference's event log keeps txn
    # markers too)
    ops = {r["op"] for r in log.select("op").distinct().collect()}
    assert {"BEGIN", "COMMIT", "INSERT"} <= ops
    # replay: rerun is a no-op (fenced), seq unchanged
    stats2 = job.run()
    assert all(s.skipped for s in stats2)
    assert job.read().count() == n


def test_eventlog_kill_restart_converges(spark, tmp_path):
    ev, job = _mk(spark, tmp_path)
    n_unique = len(ev.drop_duplicates(["file", "pos", "row_idx"]))
    job.run(max_batches=1)
    mid = job.read().count()
    assert 0 < mid < n_unique
    # fresh job over the same log resumes from the committed watermark
    job2 = EventLogJob(spark, job.input_dir, job.log_path)
    job2.run()
    log = job2.read()
    assert log.count() == n_unique
    agg = log.agg(F.max("seq").alias("hi"), F.count_distinct("seq").alias("d")).collect()[0]
    assert agg["hi"] == n_unique - 1 and agg["d"] == n_unique


def test_eventlog_filter_keeps_txn_markers(spark, tmp_path):
    ev, job = _mk(spark, tmp_path, filter_regex=r"chat\.transcripts")
    job.run()
    log = job.read().toPandas()
    named = log[log["schema_name"].notna()]
    assert set(named["table_name"].unique()) <= {"transcripts"}
    assert (log["op"] == "BEGIN").any() and (log["op"] == "COMMIT").any()
    # still dense
    assert sorted(log["seq"]) == list(range(len(log)))


def test_eventlog_wire_format(spark, tmp_path):
    from mysql_tracker_spark.sources.wire import write_wire_batches

    ev = gen_change_events(GenConfig(n_events=1200, n_conversations=60, seed=35))
    d = str(tmp_path / "inw")
    write_wire_batches(ev, d, n_batches=2)
    n_unique = len(ev.drop_duplicates(["file", "pos", "row_idx"]))
    job = EventLogJob(spark, d, str(tmp_path / "logw"), source_format="wire")
    stats = job.run()
    assert sum(s.rows_appended for s in stats) == n_unique
    assert job.read().count() == n_unique


def test_eventlog_compaction_preserves_log_and_appends_continue(spark, tmp_path):
    """compact(): many segments -> one; rows/seq identical; watermark
    and next_seq carry forward; a post-compaction append stays dense;
    below-threshold compaction is a no-op."""
    ev, job = _mk(spark, tmp_path)
    # two of three batches -> 2 segments
    job.run(max_batches=2)
    assert len(job.manifest()["files"]) == 2
    before = job.read().orderBy("seq").toPandas()
    wm_before = job.watermark()

    assert job.compact(max_segments=8) is None  # below threshold: no-op
    v = job.compact(max_segments=1)
    assert v == job.manifest()["version"]
    assert len(job.manifest()["files"]) == 1
    assert job.manifest()["summary"]["operation"] == "compact"
    after = job.read().orderBy("seq").toPandas()
    pd.testing.assert_frame_equal(
        before.reset_index(drop=True), after.reset_index(drop=True)
    )
    assert job.watermark() == wm_before

    # the remaining batch appends on top of the compacted log, seq dense
    job.run()
    final = job.read().orderBy("seq").toPandas()
    assert list(final["seq"]) == list(range(len(final)))
    assert len(job.manifest()["files"]) == 2  # compacted + new segment


def test_eventlog_auto_compaction_in_run_loop(spark, tmp_path):
    """run() with compact_threshold keeps the live segment count bounded
    while the log content stays identical to an uncompacted run."""
    ev, job = _mk(spark, tmp_path, compact_threshold=1)
    stats = job.run()
    assert any(s.extra.get("compacted") for s in stats)
    assert len(job.manifest()["files"]) == 1  # bounded, not 3
    n_unique = len(ev.drop_duplicates(["file", "pos", "row_idx"]))
    log = job.read().orderBy("seq").toPandas()
    assert len(log) == n_unique
    assert list(log["seq"]) == list(range(n_unique))
    # replay after compaction is still fenced to a no-op
    assert all(s.skipped for s in job.run())


def test_eventlog_segment_stats_and_range_read_prunes(spark, tmp_path):
    """Manifest stats (seq range analytic, ts range from footers) let
    read_range open only overlapping segments; results always equal
    the full-scan filter."""
    ev, job = _mk(spark, tmp_path)
    stats = [s for s in job.run() if not s.skipped]
    m = job.manifest()
    # every live segment has stats; seq ranges match the batch stats
    assert set(m["segments"]) == set(m["files"])
    recorded = sorted(tuple(m["segments"][f]["seq"]) for f in m["files"])
    assert recorded == sorted((s.seq_start, s.seq_end) for s in stats)
    assert all(m["segments"][f]["ts"] for f in m["files"])

    full = job.read()
    # seq window inside ONE batch -> exactly one segment opened
    lo, hi = stats[1].seq_start, stats[1].seq_start + 50
    pruned = job.read_range(seq_from=lo, seq_to=hi)
    assert len({p.split("/")[-2] for p in pruned.inputFiles()}) == 1
    assert len(full.inputFiles()) > len(pruned.inputFiles())
    want = sorted(
        map(tuple, full.filter(F.col("seq").between(lo, hi)).select("seq").collect())
    )
    assert sorted(map(tuple, pruned.select("seq").collect())) == want

    # ts window: batches are time-ordered, so a window inside batch 0's
    # ts range must not open the later batches' segments
    t0 = m["segments"][m["files"][0]]["ts"]
    pruned_ts = job.read_range(ts_from=t0[0], ts_to=t0[1])
    assert len(pruned_ts.inputFiles()) <= len(full.inputFiles())
    want_ts = full.filter(
        (F.col("ts") >= F.lit(t0[0])) & (F.col("ts") <= F.lit(t0[1]))
    ).count()
    assert pruned_ts.count() == want_ts

    # disjoint seq window -> zero segments, empty result, same schema
    empty = job.read_range(seq_from=10**9)
    assert empty.count() == 0 and empty.schema == full.schema


def test_eventlog_range_read_after_compaction_and_without_stats(spark, tmp_path):
    ev, job = _mk(spark, tmp_path, files_per_batch=1)
    job.run()
    before = job.read_range(seq_from=100, seq_to=200).orderBy("seq").collect()
    v = job.compact(max_segments=1)
    assert v is not None
    m = job.manifest()
    assert len(m["files"]) == 1 and set(m["segments"]) == set(m["files"])
    seg = m["segments"][m["files"][0]]
    total = job.read().count()
    assert seg["rows"] == total and tuple(seg["seq"]) == (0, total - 1)
    after = job.read_range(seq_from=100, seq_to=200).orderBy("seq").collect()
    assert after == before
    # stats-free manifest (pre-feature snapshot shape): conservative
    # full keep, identical results
    m2 = job.manifest()
    m2.pop("segments")
    m2["version"] += 1
    job._commit(m2)
    again = job.read_range(seq_from=100, seq_to=200).orderBy("seq").collect()
    assert again == before


def test_eventlog_range_read_ts_format_insensitive(spark, tmp_path):
    """Pruning must be keyed on canonical timestamps, not raw string
    bytes: an ISO-8601 'T'-separated bound and pandas/py datetime
    objects must prune identically to the space-separated form (a
    lexicographic compare of mixed formats would silently drop
    matching segments)."""
    import pandas as pd

    ev, job = _mk(spark, tmp_path)
    job.run()
    m = job.manifest()
    t0 = m["segments"][m["files"][0]]["ts"]
    base = job.read_range(ts_from=t0[0], ts_to=t0[1])
    n_base, files_base = base.count(), set(base.inputFiles())
    variants = [
        (t0[0].replace(" ", "T"), t0[1].replace(" ", "T")),  # ISO-8601
        (pd.Timestamp(t0[0]), pd.Timestamp(t0[1])),  # pandas
        (pd.Timestamp(t0[0]).to_pydatetime(), pd.Timestamp(t0[1]).to_pydatetime()),
    ]
    for tf, tt in variants:
        df = job.read_range(ts_from=tf, ts_to=tt)
        assert set(df.inputFiles()) == files_base
        assert df.count() == n_base


def test_eventlog_expiry_reaps_superseded_segments_keeps_log_intact(spark, tmp_path):
    """Retention: compaction supersedes the original segment dirs but
    leaves them for history; expire_snapshots bounds that — old
    manifests drop, orphaned pre-compaction dirs are reaped, and the
    LIVE log (content, seq order, stats, range reads) is untouched."""
    import os as _os

    ev, job = _mk(spark, tmp_path, files_per_batch=1)
    job.run()
    want = sorted(map(tuple, job.read().select("seq", "file", "pos").collect()))
    assert job.compact(max_segments=1) is not None
    data_dir = job.data_dir
    n_dirs_before = len(_os.listdir(data_dir))
    assert n_dirs_before > 1  # originals + compacted copy coexist
    expired = job.expire_snapshots(keep_last=1)
    assert expired > 0
    n_dirs_after = len(_os.listdir(data_dir))
    assert n_dirs_after == 1  # only the live compacted segment remains
    got = sorted(map(tuple, job.read().select("seq", "file", "pos").collect()))
    assert got == want
    # stats + pruning still work off the surviving manifest
    assert job.read_range(seq_from=0, seq_to=10).count() == 11
    # appends continue normally after expiry (watermark intact: rerun
    # of the same input is fenced to a no-op)
    assert all(s.skipped for s in job.run())


def test_eventlog_honors_input_manifest(spark, tmp_path):
    """Input-side manifest authority (parity with the keyed apply
    job): when _batches.json exists, membership and order come from it
    — unreferenced files are invisible to the log."""
    from mysql_tracker_spark.runner import write_input_manifest

    ev, job = _mk(spark, tmp_path, files_per_batch=1)
    all_groups = job.batch_files()
    assert len(all_groups) == 3
    # manifest referencing only the first two files
    import os as _os

    names = [_os.path.basename(g[0]) for g in all_groups[:2]]
    write_input_manifest(job.input_dir, names)
    vis = job.batch_files()
    assert [
        _os.path.basename(g[0]) for g in vis
    ] == names
    stats = job.run()
    assert len([s for s in stats if not s.skipped]) == 2


def test_eventlog_seq_dense_at_boundary_sampling_scale(spark, tmp_path):
    """Regression: duplicate+missing seqs from double materialization of
    the sequencer's range exchange. repartitionByRange samples its
    boundaries with a seed derived from the new shuffle's RDD id, so
    whenever exchange reuse failed to unify the counts arm with the
    main arm, each arm re-drew the boundaries and placed borderline
    rows in different partitions — per-partition counts then disagreed
    with per-partition local indices (observed ~50 dup seqs per 7,500
    events at exactly this shape: 2,500-row micro-batches, 8 shuffle
    partitions). global_sequence now persists the tagged frame and
    derives offsets from the materialized cache; this pins the
    dense-unique invariant end-to-end at the failing scale, and that
    the per-batch cache is released."""
    ev = gen_change_events(GenConfig(n_events=6000, n_conversations=120, seed=11))
    d = str(tmp_path / "in")
    write_batches(ev, d, n_batches=3)
    job = EventLogJob(spark, d, str(tmp_path / "log"))
    cached_before = len(spark.sparkContext._jsc.getPersistentRDDs())
    job.run()
    log = job.read().toPandas().sort_values("seq").reset_index(drop=True)
    n_unique = len(ev.drop_duplicates(["file", "pos", "row_idx"]))
    assert len(log) == n_unique
    assert log["seq"].tolist() == list(range(n_unique))  # dense, no dups
    # seq order is log order
    by_log = log.sort_values(["file", "pos", "row_idx"])
    assert by_log["seq"].is_monotonic_increasing
    # the sequencer's per-batch persist is released after each batch
    # (delta-based: other suite members may hold their own caches)
    assert (
        len(spark.sparkContext._jsc.getPersistentRDDs()) == cached_before
    )


def test_eventlog_streaming_tail_dense_seq_across_restart(spark, tmp_path):
    """The readStream tail (C6 streaming twin): a stream killed after a
    partial drain and RESTARTED (fresh checkpoint — worst case) keeps
    the seq axis dense and duplicate-free, and late-arriving files are
    appended by the running stream. Final log == the batch job's log."""
    import shutil

    from mysql_tracker_spark.streaming.stream_runner import EventLogStreamJob

    ev = gen_change_events(CFG)
    all_in = str(tmp_path / "all")
    paths = write_batches(ev, all_in, n_batches=4)
    n_unique = len(ev.drop_duplicates(["file", "pos", "row_idx"]))

    # phase 1: only the first two files exist; stream drains them
    in_dir = str(tmp_path / "in")
    (tmp_path / "in").mkdir()
    for p in paths[:2]:
        shutil.copy(p, in_dir)
    s1 = EventLogStreamJob(
        spark, in_dir, str(tmp_path / "log"), str(tmp_path / "ck1")
    )
    st1 = s1.run_available()
    applied1 = sum(s.rows_appended for s in st1 if not s.skipped)
    assert applied1 > 0
    _, _, next_seq = s1.job.watermark()
    assert next_seq == applied1  # dense from 0

    # phase 2: "kill" (drop the object), two more files arrive, restart
    # with a FRESH checkpoint — the input_file_end cursor skips the
    # applied groups, the offset fence guards the rest
    for p in paths[2:]:
        shutil.copy(p, in_dir)
    s2 = EventLogStreamJob(
        spark, in_dir, str(tmp_path / "log"), str(tmp_path / "ck2")
    )
    s2.run_available()
    # cursor actually skipped phase-1 groups (no skipped-stat re-reads)
    assert all(not s.skipped for s in s2.stats)

    log = s2.job.read()
    n = log.count()
    assert n == n_unique
    agg = log.agg(
        F.min("seq").alias("lo"), F.max("seq").alias("hi"),
        F.count_distinct("seq").alias("d"),
    ).collect()[0]
    assert (agg["lo"], agg["hi"], agg["d"]) == (0, n - 1, n)

    # equivalence with the batch job over the same input
    batch_job = EventLogJob(spark, all_in, str(tmp_path / "log_batch"))
    batch_job.run()
    a = log.select("seq", "file", "pos", "row_idx").orderBy("seq")
    b = batch_job.read().select("seq", "file", "pos", "row_idx").orderBy("seq")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_eventlog_batches_only_its_own_format_from_mixed_manifest(tmp_path):
    """The event log lists its input like the keyed job: an input
    manifest spanning both extensions yields only the job's own
    format's files (a jsonl log must not be fed a parquet file). No
    SparkSession needed."""
    import os as _os

    from mysql_tracker_spark.runner import write_input_manifest

    d = tmp_path / "in"
    d.mkdir()
    (d / "b00001.parquet").write_bytes(b"")
    (d / "b00002.jsonl").write_text("")
    write_input_manifest(str(d))
    for fmt, want in (
        ("jsonl", "b00002.jsonl"),
        ("typed", "b00001.parquet"),
        ("wire", "b00001.parquet"),
    ):
        job = EventLogJob(None, str(d), str(tmp_path / "log"), source_format=fmt)
        assert [[_os.path.basename(p) for p in g] for g in job.batch_files()] == [[want]]
