"""One apply pipeline for every source: the typed and wire sources run
the same LWW -> staged delta -> commit chain, so they report the same
per-batch observability and converge to the same table; plus the job
config round trip, the incident-flood cap's fence, the heartbeat
probe's bounded work, the per-batch phase ledger and lineage record,
run() against the streaming drain, and the ownership-marker guard."""

import dataclasses

import pandas as pd
import pytest

from mysql_tracker_spark.config import JobConfig
from mysql_tracker_spark.runner import ApplyStats, CdcApplyJob
from mysql_tracker_spark.sources.binlog_gen import (
    GenConfig,
    expected_final_state,
    gen_change_events,
    write_batches,
)
from mysql_tracker_spark.sources.wire import write_wire_batches

from .conftest import normalize

CMP = ["conv_id", "turn_idx", "role", "text", "tool", "score"]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_typed_and_wire_share_one_chain(spark, tmp_path, mode):
    """Same events through both sources: every applied batch carries
    the chain's phases, winner count and LWW variant, and the final
    tables are equal (and equal to the sequential oracle)."""
    ev = gen_change_events(GenConfig(n_events=1500, n_conversations=60, seed=41))
    write_batches(ev, str(tmp_path / "typed"), n_batches=3)
    write_wire_batches(ev, str(tmp_path / "wire"), n_batches=3)
    tables = {}
    for fmt in ("typed", "wire"):
        job = CdcApplyJob(
            spark, str(tmp_path / fmt), str(tmp_path / f"t_{fmt}"),
            n_buckets=4, source_format=fmt, write_mode=mode,
        )
        stats = [s for s in job.run() if not s.skipped]
        assert stats, fmt
        for s in stats:
            assert {"manifest", "delta", "merge"} <= set(s.phase_ms), (fmt, s.phase_ms)
            assert s.rows_winners and s.lww_variant, (fmt, s)
            assert s.write_mode == mode
        tables[fmt] = normalize(job.table.read(spark).toPandas())
        job.close()
    pd.testing.assert_frame_equal(tables["typed"][CMP], tables["wire"][CMP])
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(tables["typed"][CMP], exp[CMP])


def test_job_config_every_field_roundtrips_into_the_job(tmp_path):
    """A JobConfig with every field off its default survives dump ->
    load -> from_config: the job's config is the loaded one (no field
    is silently dropped or re-defaulted on the way)."""
    cfg = JobConfig(
        job_id="rt",
        input_dir="/in",
        source_format="jsonl",
        files_per_batch=3,
        table_path="/tbl",
        schema_name="s",
        table_name="t",
        n_buckets=7,
        filter_regex=r"s\.t",
        allowlist=[["s", "t"]],
        start_file="bin.000002",
        start_pos=42,
        on_invalid_position="reset_earliest",
        on_destructive_ddl="ignore",
        quarantine_dir="/q",
        write_mode="mor",
        mor_compact_threshold=3,
        compact_sort_by="ts",
        compact_files_per_bucket=2,
        bloom_cols=["text"],
        expectations=[{"kind": "not_null", "name": "nn", "col": "text"}],
        table_expectations=[{"kind": "unique", "name": "u", "cols": ["conv_id", "turn_idx"]}],
        auto_split_rows_per_bucket=1000,
        auto_split_migrate_per_batch=4,
        gtid_list="0-1-100",
        gtid_set="3e11fa47-71ca-11e1-9e33-c80aa9429562:1-9",
        branch="b",
        expire_keep_last=5,
        incident_policy="record",
        transform="tests.test_apply_pipeline:_identity",
    )
    defaults = JobConfig()
    same = [
        f.name for f in dataclasses.fields(JobConfig)
        if getattr(cfg, f.name) == getattr(defaults, f.name)
    ]
    assert not same, f"fields left at their default: {same}"
    p = str(tmp_path / "job.json")
    cfg.dump(p)
    loaded = JobConfig.load(p)
    assert loaded == cfg
    job = CdcApplyJob.from_config(None, loaded)
    assert job.cfg == loaded
    # field keywords override the config's
    over = CdcApplyJob.from_config(None, loaded, n_buckets=11, branch="c")
    assert (over.cfg.n_buckets, over.cfg.branch) == (11, "c")


def _identity(df):
    return df


def test_incident_cap_counts_past_fence_frames_only(spark, tmp_path):
    """The incident-flood cap counts INCIDENT frames past the
    watermark only: a replay straddling the fence, with more than
    MAX_INCIDENT_FRAMES_PER_BATCH incidents in total but one past it,
    records that one under incident_policy='record' and applies."""
    from mysql_tracker_spark.sources.binlog_gen import SERVER_UUID
    from mysql_tracker_spark.sources.mysql_events import mysql_control_flavor

    ev = gen_change_events(GenConfig(n_events=800, n_conversations=30, seed=17))
    fl = mysql_control_flavor(
        ev, server_uuid=SERVER_UUID, heartbeat_every=10_000, incident_at=400
    )
    inc = fl[fl["op"] == "INCIDENT"]
    assert len(inc) == 1
    n_flood = CdcApplyJob.MAX_INCIDENT_FRAMES_PER_BATCH + 8
    # an earlier binlog file of incident frames, all behind the fence
    flood = pd.concat([inc] * n_flood, ignore_index=True)
    flood["file"] = "bin.000000"
    flood["pos"] = range(1, n_flood + 1)
    stream = pd.concat([flood, fl], ignore_index=True)
    in_dir = str(tmp_path / "in")
    write_wire_batches(stream, in_dir, n_batches=1)

    job = CdcApplyJob(
        spark, in_dir, str(tmp_path / "t"), n_buckets=4, source_format="wire",
        incident_policy="record", start_file="bin.000000", start_pos=n_flood,
    )
    (stats,) = job.run()
    assert not stats.skipped
    assert [i[:2] for i in stats.incidents] == [
        (inc["file"].iloc[0], int(inc["pos"].iloc[0]))
    ]
    got = normalize(job.table.read(spark).toPandas())
    pd.testing.assert_frame_equal(
        got[CMP], normalize(expected_final_state(ev))[CMP]
    )


def test_heartbeat_probe_reads_only_new_batches():
    """Heartbeat.probe() folds only the batches appended since the
    last probe: after k new batches it reads exactly those k entries,
    however long the job has been up."""
    from types import SimpleNamespace

    from mysql_tracker_spark.streaming.stream_runner import Heartbeat

    reads = []

    class Stat:
        def __init__(self, batch_id, hb=None):
            self._b, self._hb = batch_id, hb

        @property
        def batch_id(self):
            reads.append(self._b)
            return self._b

        @property
        def heartbeat_ts(self):
            reads.append(self._b)
            return self._hb

    class Query:
        isActive = True

        @staticmethod
        def exception():
            return None

    stats = [Stat(i, 100.0 if i == 3 else None) for i in range(50)]
    sj = SimpleNamespace(
        stats=stats, input_dir=".", job=SimpleNamespace(table=None)
    )
    hb = Heartbeat(sj, stall_after_s=600)
    hb.attach(Query())
    hb.probe()
    first = hb.probe()["master_heartbeat_age_s"]
    assert first is not None  # batch 3's heartbeat, found once
    for k in (1, 4):
        start = len(stats)
        stats.extend(Stat(start + i) for i in range(k))
        reads.clear()
        checks = hb.probe()
        assert set(reads) == set(range(start, start + k)), (k, sorted(set(reads)))
        assert checks["progress_ok"]
        assert checks["master_heartbeat_age_s"] >= first
    stats.append(Stat(len(stats), 2e9))  # a newer heartbeat wins
    assert hb.probe()["master_heartbeat_age_s"] < 0


@pytest.fixture(scope="module")
def wire_run(spark, tmp_path_factory):
    """One 4-batch wire run(); yields (job, stats) and closes the job."""
    tmp = tmp_path_factory.mktemp("wire_run")
    ev = gen_change_events(GenConfig(n_events=4000, n_conversations=100, seed=47))
    write_wire_batches(ev, str(tmp / "in"), n_batches=4)
    job = CdcApplyJob(
        spark, str(tmp / "in"), str(tmp / "t"), n_buckets=8, source_format="wire"
    )
    stats = job.run()
    yield job, stats
    job.close()


def test_phase_walls_fit_inside_the_batch_wall(wire_run):
    """Every phase is timed on the batch's own thread, one after
    another: the phase keys are the chain's layers and they add up to
    no more than the batch wall."""
    _, stats = wire_run
    assert len(stats) == 4
    for s in stats:
        assert set(s.phase_ms) <= {"manifest", "delta", "merge"}, s.phase_ms
        assert sum(s.phase_ms.values()) <= s.wall_ms, s


def test_lineage_record_carries_every_apply_stats_field(wire_run):
    """lineage.jsonl is derived from ApplyStats, so no field (the
    per-layer phases included) is dropped on the way to disk."""
    import json
    import os

    job, stats = wire_run
    with open(os.path.join(job.cfg.table_path, "lineage.jsonl")) as f:
        recs = [json.loads(line) for line in f]
    assert [r["batch_id"] for r in recs] == [s.batch_id for s in stats if not s.skipped]
    names = {f.name for f in dataclasses.fields(ApplyStats)}
    for r in recs:
        assert names <= set(r), names - set(r)
        assert {"manifest", "delta", "merge"} <= set(r["phase_ms"]), r["phase_ms"]


def test_run_and_stream_drain_escalate_alike(spark, tmp_path):
    """run() applies one batch after another, exactly like the
    streaming drain: over the same flooded wire input both switch to
    the salted LWW on the strictly next batch and end on equal
    tables."""
    from mysql_tracker_spark.streaming import CdcStreamJob

    ev = gen_change_events(
        GenConfig(n_events=4500, n_conversations=6, max_turns=3, zipf_a=3.0, seed=13)
    )
    d = str(tmp_path / "in")
    write_wire_batches(ev, d, n_batches=3)
    job = CdcApplyJob(
        spark, d, str(tmp_path / "t_run"), n_buckets=4, source_format="wire"
    )
    ran = [s.lww_variant for s in job.run() if not s.skipped]
    job.close()
    sj = CdcStreamJob(
        spark, d, str(tmp_path / "t_stream"), str(tmp_path / "ck"),
        source_format="wire", n_buckets=4,
    )
    sj.job.prepare()
    sj._drain_in_order()
    sj.job.close()
    drained = [s.lww_variant for s in sj.stats if not s.skipped]
    auto = f"auto_salted{CdcApplyJob.AUTO_SALTS}"
    assert ran == ["packed", auto, auto], ran
    assert drained == ran
    got = {
        k: normalize(t.read(spark).toPandas())[CMP]
        for k, t in (("run", job.table), ("stream", sj.job.table))
    }
    pd.testing.assert_frame_equal(got["run"], got["stream"])
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got["run"], exp[CMP])


def test_failed_owner_refresh_fails_the_next_batch_before_staging(
    spark, tmp_path, monkeypatch
):
    """A job that cannot refresh its ownership marker (disk full,
    permissions) must not stage: once the marker ages out a concurrent
    prepare() reaps its staging. The next apply_batch raises with the
    table version and watermark untouched, and applies once the marker
    can be written again."""
    import errno
    import os

    ev = gen_change_events(GenConfig(n_events=600, n_conversations=30, seed=43))
    d, tbl = str(tmp_path / "in"), str(tmp_path / "t")
    write_wire_batches(ev, d, n_batches=2)
    job = CdcApplyJob(spark, d, tbl, n_buckets=4, source_format="wire")
    g0, g1 = job.batch_files()
    job.apply_batch(0, g0)
    before = (job.table.current_version(), job.watermark())
    marker = job._owner_marker()
    utime = os.utime

    def failing_utime(path, *a, **kw):
        if os.fspath(path) == marker:
            raise OSError(errno.ENOSPC, "No space left on device", path)
        return utime(path, *a, **kw)

    monkeypatch.setattr(os, "utime", failing_utime)
    with pytest.raises(RuntimeError, match="ownership marker"):
        job.apply_batch(1, g1)
    assert (job.table.current_version(), job.watermark()) == before
    assert not [n for n in os.listdir(tbl) if n.startswith("_delta_")]
    monkeypatch.undo()
    assert not job.apply_batch(1, g1).skipped
    assert job.watermark() != before[1]
    job.close()
