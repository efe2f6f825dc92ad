"""Progressive bucket-count growth (``split_buckets``): a METADATA-ONLY
k-fold layout change (Iceberg partition-evolution analogue for the
``bucket(N, key)`` transform) where child buckets reference their
parent's physical files through read-time residual predicates, and
migration to owned files completes incrementally via ordinary COW
merges and (bounded) compaction. The eager full-rewrite path stays as
``rescale_buckets`` for non-multiple targets."""

import datetime as dt

import pytest
from pyspark.sql import functions as F, types as T

from mysql_tracker_spark.lakestore import CommitConflictError, LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
CH_SCHEMA = T.StructType(
    list(SCHEMA.fields) + [T.StructField("__delete", T.BooleanType())]
)
T0 = dt.datetime(1995, 1, 1)


def _mk(spark, path, n_buckets=4, n_convs=30, **kw):
    t = LakeTable.create(
        str(path), SCHEMA, key_cols=["conv_id", "turn_idx"],
        bucket_by="conv_id", n_buckets=n_buckets, **kw,
    )
    rows = [
        (f"c{i}", j, f"v0-{i}-{j}", T0 + dt.timedelta(hours=i * 3 + j))
        for i in range(n_convs)
        for j in range(3)
    ]
    t.overwrite(spark.createDataFrame(rows, SCHEMA))
    return t, {(r[0], r[1]): r[2] for r in rows}


def _state(spark, t, version=None):
    return {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in t.read(spark, version=version).collect()
    }


def test_split_is_metadata_only_and_read_identical(spark, tmp_path):
    t, base = _mk(spark, tmp_path / "t")
    files_before = set(t.live_files())
    v = t.split_buckets(4)
    m = t.manifest()
    assert m["n_buckets"] == 16 and m["version"] == v
    # zero data movement: every child references a parent physical file
    assert set(t.live_files()) == files_before
    assert len(t.shared_buckets()) == 16
    assert _state(spark, t) == base
    # full-table read collapses complete sibling sets: one scan per
    # parent file, not k filtered passes (plan has no residual filter)
    plan = t.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "pmod" not in plan.lower()
    # manifest-only row_count is honestly unavailable mid-migration
    with pytest.raises(ValueError):
        t.row_count()
    assert t.row_count(spark) == len(base)


def test_split_rejects_bad_factor(spark, tmp_path):
    t, _ = _mk(spark, tmp_path / "t")
    for bad in (1, 0, -2, 2.5):
        with pytest.raises(ValueError):
            t.split_buckets(bad)


def test_point_reads_prune_to_child_buckets(spark, tmp_path):
    t, base = _mk(spark, tmp_path / "t")
    t.split_buckets(4)
    [b] = t.buckets_for_keys(spark, ["c7"])
    assert 0 <= b < 16
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in t.read_for_keys(spark, ["c7"]).collect()
    }
    assert got == {k: v for k, v in base.items() if k[0] == "c7"}


def test_merge_migrates_affected_children_incrementally(spark, tmp_path):
    t, base = _mk(spark, tmp_path / "t")
    t.split_buckets(2)
    ch = spark.createDataFrame(
        [("c7", 0, "UP", T0, False), ("c3", 1, None, None, True)], CH_SCHEMA
    )
    t.merge(spark, ch)
    exp = dict(base)
    exp[("c7", 0)] = "UP"
    exp.pop(("c3", 1))
    assert _state(spark, t) == exp
    # the touched child buckets now own their files; others still shared
    shared = t.shared_buckets()
    assert 0 < len(shared) < 8
    rep = t.validate(spark, deep=True)
    assert rep["ok"], rep["issues"]


def test_mor_deltas_and_bounded_compaction_complete_migration(spark, tmp_path):
    t, base = _mk(spark, tmp_path / "t")
    t.split_buckets(2)
    ch = spark.createDataFrame([("c5", 2, "MOR", T0, False)], CH_SCHEMA)
    t.merge_mor(spark, ch)
    exp = dict(base)
    exp[("c5", 2)] = "MOR"
    assert _state(spark, t) == exp  # residual base + delta resolve together

    # bounded migration: compact a SLICE of the backlog, then the rest
    backlog = t.shared_buckets()
    step = backlog[: len(backlog) // 2]
    t.compact(spark, bucket_ids=step)
    assert set(t.shared_buckets()) == set(backlog) - set(step)
    t.compact(spark)  # auto-targets remaining shared buckets + deltas
    assert t.shared_buckets() == [] and t.delta_counts() == {}
    assert _state(spark, t) == exp
    assert t.row_count() == len(exp)  # manifest-only count is back
    rep = t.validate(spark, deep=True)
    assert rep["ok"], rep["issues"]


def test_nested_split_and_delete_where_no_duplication(spark, tmp_path):
    """A shared file referenced by k children must contribute each row
    exactly once to a file-granular rewrite (the k-duplication hazard),
    and re-splitting shared entries keeps exactly one (finest) residual."""
    t, base = _mk(spark, tmp_path / "t", n_buckets=2)
    t.split_buckets(2)
    t.split_buckets(3)
    assert t.manifest()["n_buckets"] == 12
    assert _state(spark, t) == base
    v, n = t.delete_where(spark, {"turn_idx": (2, None)})
    assert n == 30
    assert t.read(spark).count() == 60
    rep = t.validate(spark, deep=True)
    assert rep["ok"], rep["issues"]


def test_changelog_is_empty_across_split_boundary(spark, tmp_path):
    t, base = _mk(spark, tmp_path / "t")
    v_pre = t.current_version()
    v_split = t.split_buckets(4)
    assert t.read_changes(spark, v_pre, v_split).count() == 0
    # and a post-split merge diffs as exactly its own changes
    ch = spark.createDataFrame([("c1", 0, "X", T0, False)], CH_SCHEMA)
    v2, _ = t.merge(spark, ch)
    rows = t.read_changes(spark, v_split, v2).collect()
    assert [(r["op"], r["conv_id"], r["turn_idx"]) for r in rows] == [
        ("update", "c1", 0)
    ]


def test_time_travel_reads_old_layout(spark, tmp_path):
    t, base = _mk(spark, tmp_path / "t")
    v_pre = t.current_version()
    t.split_buckets(2)
    ch = spark.createDataFrame([("c1", 0, "X", T0, False)], CH_SCHEMA)
    t.merge(spark, ch)
    assert _state(spark, t, version=v_pre) == base


def test_staged_delta_publish_conflicts_with_concurrent_split(spark, tmp_path):
    """The layout-race guard: delta files partitioned under the old
    layout must NOT compose onto a post-split head (rows would be filed
    into buckets that no longer own them) — the publish raises and the
    caller re-merges against the new head."""
    t, base = _mk(spark, tmp_path / "t")
    ch = spark.createDataFrame([("c1", 0, "STAGED", T0, False)], CH_SCHEMA)
    t.merge_mor(spark, ch, stage_as="w1")
    t.split_buckets(2)
    with pytest.raises(CommitConflictError, match="layout changed"):
        t.publish_staged("w1")
    # table state untouched by the failed publish; re-merge works
    assert _state(spark, t) == base
    t.abort_staged("w1")
    t.merge_mor(spark, ch)
    assert _state(spark, t)[("c1", 0)] == "STAGED"


def test_read_where_pruning_stays_sound_on_shared_files(spark, tmp_path):
    """Shared entries inherit the parent's stats/bloom — supersets of
    each child's rows, so skipping can only FALSE-KEEP, never drop."""
    t, base = _mk(spark, tmp_path / "t", bloom_cols=["text"])
    t.compact(spark, sort_by="ts")  # tight ts bounds per file
    t.split_buckets(2)
    lo, hi = T0 + dt.timedelta(hours=10), T0 + dt.timedelta(hours=20)
    got = {
        (r["conv_id"], r["turn_idx"]) for r in t.read_where(
            spark, "ts", lo, hi
        ).collect()
    }
    exp = {
        (f"c{i}", j)
        for i in range(30)
        for j in range(3)
        if lo <= T0 + dt.timedelta(hours=i * 3 + j) <= hi
    }
    assert got == exp
    hits = {
        (r["conv_id"], r["turn_idx"]) for r in t.read_where_in(
            spark, "text", ["v0-7-1", "v0-22-0"]
        ).collect()
    }
    assert hits == {("c7", 1), ("c22", 0)}


def test_expire_reclaims_parent_files_after_migration(spark, tmp_path):
    t, _ = _mk(spark, tmp_path / "t")
    parents = set(t.live_files())
    t.split_buckets(2)
    t.compact(spark)  # full migration: children own fresh files
    assert set(t.live_files()).isdisjoint(parents)
    import os
    t.expire_snapshots(keep_last=1)
    for rel in parents:
        assert not os.path.exists(os.path.join(t.path, rel))
    rep = t.validate(spark, deep=True)
    assert rep["ok"], rep["issues"]


def test_apply_job_converges_across_mid_stream_split(spark, tmp_path):
    """North-rule lifecycle: a long-running CDC apply whose table
    outgrows its bucket count splits ONLINE between micro-batches —
    the runner picks the new layout up from the manifest, later batches
    merge into child buckets, and the final state still matches the
    sequential oracle."""
    import pandas as pd

    from mysql_tracker_spark.runner import CdcApplyJob
    from mysql_tracker_spark.sources.binlog_gen import (
        GenConfig, expected_final_state, gen_change_events, write_batches,
    )
    from .conftest import normalize

    cfg = GenConfig(n_events=4000, n_conversations=150, seed=11)
    ev = gen_change_events(cfg)
    d = str(tmp_path / "in")
    write_batches(ev, d, n_batches=5)
    tbl = str(tmp_path / "t")
    CdcApplyJob(spark, d, tbl, n_buckets=4).run(max_batches=2)

    t = LakeTable.load(tbl)
    t.split_buckets(4)
    assert t.manifest()["n_buckets"] == 16

    job = CdcApplyJob(spark, d, tbl, n_buckets=4)
    stats = job.run()
    assert [s.skipped for s in stats[:2]] == [True, True]
    cmp_cols = ["conv_id", "turn_idx", "role", "text", "tool", "score"]
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[cmp_cols], exp[cmp_cols])
    # migration completed organically for touched children; compaction
    # mops up the rest and deep fsck blesses the final layout
    job.table.compact(spark)
    assert job.table.shared_buckets() == []
    rep = job.table.validate(spark, deep=True)
    assert rep["ok"], rep["issues"]


def test_auto_split_grows_layout_unattended(spark, tmp_path):
    """auto_split_rows_per_bucket: the runner doubles the bucket count
    (metadata-only) whenever mean live rows/bucket exceeds the
    threshold and migrates bounded slices of the shared backlog on
    later batches — table layout follows table growth with no operator
    action, and the final state still matches the sequential oracle."""
    import json
    import os

    import pandas as pd

    from mysql_tracker_spark.runner import CdcApplyJob
    from mysql_tracker_spark.sources.binlog_gen import (
        GenConfig, expected_final_state, gen_change_events, write_batches,
    )
    from .conftest import normalize

    cfg = GenConfig(n_events=4000, n_conversations=150, seed=17)
    ev = gen_change_events(cfg)
    d = str(tmp_path / "in")
    write_batches(ev, d, n_batches=5)
    job = CdcApplyJob(
        spark, d, str(tmp_path / "t"), n_buckets=4,
        auto_split_rows_per_bucket=50, auto_split_migrate_per_batch=4,
    )
    stats = job.run()
    nb = job.table.manifest()["n_buckets"]
    assert nb > 4, "growth must have triggered"
    assert any(s.split_to for s in stats), "a batch must record its split"
    cmp_cols = ["conv_id", "turn_idx", "role", "text", "tool", "score"]
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[cmp_cols], exp[cmp_cols])
    # steady state: mean rows/bucket is back under the threshold
    assert job.table.row_count(spark) / nb <= 50
    # lineage records the growth events for the operator
    lineage = [
        json.loads(line)
        for line in open(os.path.join(str(tmp_path / "t"), "lineage.jsonl"))
    ]
    assert any(r.get("split_to") for r in lineage)
    # finish any leftover migration; table is clean and fsck-green
    job.table.compact(spark)
    assert job.table.shared_buckets() == []
    rep = job.table.validate(spark, deep=True)
    assert rep["ok"], rep["issues"]


@pytest.mark.parametrize("seed", [101, 202, 303])
def test_randomized_ops_model_check(spark, tmp_path, seed):
    """Randomized interleavings of merge / merge_mor / split / bounded
    compact / delete_where against a driver-side dict model: after
    EVERY operation the resolved table equals the model exactly, and
    the final table passes deep fsck. Catches interaction bugs no
    hand-written scenario covers (e.g. delete over half-migrated
    shared buckets, MoR deltas over twice-split bases)."""
    import random

    rng = random.Random(seed)
    t, model = _mk(spark, tmp_path / "t", n_buckets=2, n_convs=20)
    keys = [(f"c{i}", j) for i in range(24) for j in range(3)]  # some new
    n_splits = 0

    def rand_change(n):
        recs = []
        for c, j in rng.sample(keys, n):
            if rng.random() < 0.25:
                recs.append((c, j, None, None, True))
            else:
                recs.append((c, j, f"s{seed}-{rng.randrange(1000)}", T0, False))
        return recs

    for step in range(12):
        op = rng.choice(["merge", "mor", "split", "compact", "delete"])
        if op == "split" and n_splits < 3:
            t.split_buckets(rng.choice([2, 3]))
            n_splits += 1
        elif op == "compact":
            backlog = t.shared_buckets()
            if backlog and rng.random() < 0.5:
                t.compact(spark, bucket_ids=backlog[: max(1, len(backlog) // 2)])
            else:
                t.compact(spark)
        elif op == "delete":
            lo = rng.randrange(3)
            _, n = t.delete_where(spark, {"turn_idx": (lo, lo)})
            dropped = [k for k in model if k[1] == lo]
            assert n == len(dropped), f"step {step}: deleted {n} != {len(dropped)}"
            for k in dropped:
                model.pop(k)
        else:
            recs = rand_change(rng.randrange(1, 8))
            ch = spark.createDataFrame(recs, CH_SCHEMA)
            (t.merge if op == "merge" else t.merge_mor)(spark, ch)
            for c, j, text, _ts, dele in recs:
                if dele:
                    model.pop((c, j), None)
                else:
                    model[(c, j)] = text
        got = _state(spark, t)
        assert got == model, (
            f"seed {seed} step {step} op {op}: {len(got)} vs {len(model)} rows"
        )
    t.compact(spark)
    assert t.shared_buckets() == []
    rep = t.validate(spark, deep=True)
    assert rep["ok"], rep["issues"]


def test_equally_spaced_partial_siblings_do_not_collapse(spark, tmp_path):
    """Regression: after a factor-4 split, migrating exactly every
    OTHER child of one parent file leaves an equally-spaced remainder
    ({b, b+2P} of {b, b+P, b+2P, b+3P}) whose spacing mimics a complete
    factor-2 sibling set. The read-side collapse must key off the
    file's stamped parent period — an unfiltered scan here would
    duplicate the rows whose live versions moved to the migrated
    children's files."""
    t, base = _mk(spark, tmp_path / "t", n_buckets=4)
    t.split_buckets(4)  # children of parent b: {b, b+4, b+8, b+12}
    t.compact(spark, bucket_ids=[4, 12])  # migrate every other child of parent 0
    left = t.shared_buckets()
    assert 0 in left and 8 in left and 4 not in left and 12 not in left
    got = _state(spark, t)
    assert got == base  # no duplicates, no losses
    assert t.read(spark).count() == len(base)
    rep = t.validate(spark, deep=True)
    assert rep["ok"], rep["issues"]


def test_streaming_front_end_grows_layout_too(spark, tmp_path):
    """CdcStreamJob forwards job kwargs to the batch runner and shares
    its epilogue, so autonomous growth works identically under the
    Structured Streaming front-end."""
    import pandas as pd

    from mysql_tracker_spark.sources.binlog_gen import (
        GenConfig, expected_final_state, gen_change_events, write_batches,
    )
    from mysql_tracker_spark.streaming import CdcStreamJob
    from .conftest import normalize

    cfg = GenConfig(n_events=4000, n_conversations=150, seed=31)
    ev = gen_change_events(cfg)
    d = str(tmp_path / "in")
    write_batches(ev, d, n_batches=5)
    job = CdcStreamJob(
        spark, d, str(tmp_path / "t"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4, auto_split_rows_per_bucket=50,
        auto_split_migrate_per_batch=4,
    )
    job.run_available()
    t = job.job.table
    assert t.manifest()["n_buckets"] > 4
    cmp_cols = ["conv_id", "turn_idx", "role", "text", "tool", "score"]
    got = normalize(t.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[cmp_cols], exp[cmp_cols])


def test_point_read_opens_only_the_parent_file_post_split(spark, tmp_path):
    """Serving-path pruning survives the split: a point read on a
    shared child bucket opens exactly its parent's physical file (1/N
    of the pre-split table), never the whole table — the residual is a
    row filter, not a scan widening."""
    t, base = _mk(spark, tmp_path / "t")
    n_files_total = len(t.live_files())
    assert n_files_total >= 4  # one per non-empty parent bucket
    t.split_buckets(4)
    df = t.read_for_keys(spark, ["c7"])
    opened = {f.rsplit("/data/", 1)[-1] for f in df.inputFiles()}
    assert len(opened) == 1, opened
    [b] = t.buckets_for_keys(spark, ["c7"])
    manifest_paths = {
        fe["path"].split("data/", 1)[-1]
        for fe in t.manifest()["buckets"][str(b)]
    }
    assert opened <= manifest_paths


def test_read_for_keys_places_keys_under_the_scanned_manifest(spark, tmp_path):
    """A rescale committing between the point read's manifest read and
    its key placement must not re-place keys under the new bucket count
    while the old snapshot's buckets are scanned (rows would go missing
    silently): keys are placed from the one manifest the scan reads."""
    t, base = _mk(spark, tmp_path / "t", n_buckets=4)
    head = t.manifest()
    real = t.manifest
    t.rescale_buckets(spark, 7)
    calls = {"n": 0}

    def advancing(version=None):
        calls["n"] += 1
        return head if calls["n"] == 1 else real(version)

    # a key whose bucket moves: placed under 7 buckets, it would be
    # looked for in a bucket of the 4-bucket snapshot that lacks it
    key = next(
        k
        for k in sorted({k for k, _ in base})
        if t.buckets_for_keys(spark, [k]) != t.buckets_for_keys(spark, [k], head["version"])
    )
    t.manifest = advancing
    try:
        got = {
            (r["conv_id"], r["turn_idx"]): r["text"]
            for r in t.read_for_keys(spark, [key]).collect()
        }
    finally:
        t.manifest = real
    assert calls["n"] >= 1
    assert got == {kt: v for kt, v in base.items() if kt[0] == key} != {}
