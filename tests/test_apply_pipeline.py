"""One apply pipeline for every source: the typed and wire sources run
the same LWW -> staged delta -> commit chain, so they report the same
per-batch observability and converge to the same table; plus the job
config round trip, the incident-flood cap's fence, and the heartbeat
probe's bounded work."""

import dataclasses

import pandas as pd
import pytest

from mysql_tracker_spark.config import JobConfig
from mysql_tracker_spark.runner import CdcApplyJob
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
    load -> from_config: the job carries each value (no field is
    silently dropped or re-defaulted on the way)."""
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
        n_salts=5,
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

    renamed = {
        "table_path": "table_path",
        "on_invalid_position": "reset_policy",
    }
    derived = {
        "reset_policy": "earliest",
        "allowlist": [("s", "t")],
        "transform": _identity,
    }
    for f in dataclasses.fields(JobConfig):
        if f.name in ("job_id", "expectations", "table_expectations"):
            continue
        attr = renamed.get(f.name, f.name)
        want = derived.get(attr, getattr(cfg, f.name))
        assert getattr(job, attr) == want, f.name
    assert [e.name for e in job.expectations] == ["nn"]
    assert [e.name for e in job.table_expectations] == ["u"]
    # constructor keywords override the config's
    over = CdcApplyJob.from_config(None, loaded, n_buckets=11, branch="b")
    assert (over.n_buckets, over.branch) == (11, "b")


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
