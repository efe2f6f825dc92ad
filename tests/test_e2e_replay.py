"""End-to-end replay equality + exactly-once (SURVEY.md §5 items 2-4).

The reference's correctness oracle was human inspection of replayed
entries (``src/test/java/MysqlParserTest.java:13-29``); here it is a
sequential pandas LWW oracle asserted per turn.
"""

import pandas as pd
import pytest

from mysql_tracker_spark.lakestore import LakeTable
from mysql_tracker_spark.runner import CdcApplyJob
from mysql_tracker_spark.sources.binlog_gen import (
    GenConfig,
    expected_final_state,
    gen_change_events,
    write_batches,
)

from .conftest import normalize

CFG = GenConfig(n_events=4000, n_conversations=150, seed=5)
CMP = ["conv_id", "turn_idx", "role", "text", "tool", "score"]


@pytest.fixture(scope="module")
def stream(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream"))
    ev = gen_change_events(CFG)
    write_batches(ev, d, n_batches=5)
    return d, ev


def test_replay_matches_oracle(spark, stream, tmp_path):
    d, ev = stream
    job = CdcApplyJob(spark, d, str(tmp_path / "t"), n_buckets=8)
    stats = job.run()
    assert all(not s.skipped for s in stats)
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])
    # per-turn ts text equality too (input_hint invariant covers text;
    # ts survives the string->timestamp->string roundtrip)
    assert got["ts"].tolist() == exp["ts"].tolist()


def test_kill_restart_converges(spark, stream, tmp_path):
    d, ev = stream
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    CdcApplyJob(spark, d, p1, n_buckets=8).run()
    # killed after 2 batches, restarted with a fresh driver
    CdcApplyJob(spark, d, p2, n_buckets=8).run(max_batches=2)
    resumed = CdcApplyJob(spark, d, p2, n_buckets=8)
    stats = resumed.run()
    assert [s.skipped for s in stats[:2]] == [True, True]
    a = normalize(LakeTable.load(p1).read(spark).toPandas())
    b = normalize(resumed.table.read(spark).toPandas())
    pd.testing.assert_frame_equal(a[CMP], b[CMP])


def test_full_rerun_is_noop(spark, stream, tmp_path):
    d, ev = stream
    p = str(tmp_path / "t")
    CdcApplyJob(spark, d, p, n_buckets=8).run()
    v = LakeTable.load(p).current_version()
    again = CdcApplyJob(spark, d, p, n_buckets=8)
    stats = again.run()
    assert all(s.skipped for s in stats)
    assert LakeTable.load(p).current_version() == v  # no empty commits


@pytest.fixture(scope="module")
def wire_stream(tmp_path_factory):
    from mysql_tracker_spark.sources.wire import write_wire_batches

    d = str(tmp_path_factory.mktemp("wire_stream"))
    ev = gen_change_events(CFG)
    write_wire_batches(ev, d, n_batches=5)
    return d, ev


def test_wire_replay_matches_oracle(spark, wire_stream, tmp_path):
    """The wire fast path (raw frames -> JVM manifest -> single Arrow
    decode -> narrow dedup -> delta MERGE) must land on the identical
    final table, including mid-stream schema evolution."""
    d, ev = wire_stream
    job = CdcApplyJob(spark, d, str(tmp_path / "t"), n_buckets=8, source_format="wire")
    stats = job.run()
    assert all(not s.skipped for s in stats)
    assert sum(s.rows_in for s in stats) == len(ev)
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])
    assert dict(job.table.read(spark).dtypes)["score"] == "bigint"


def test_wire_kill_restart_converges(spark, wire_stream, tmp_path):
    d, ev = wire_stream
    p = str(tmp_path / "t")
    CdcApplyJob(spark, d, p, n_buckets=8, source_format="wire").run(max_batches=2)
    resumed = CdcApplyJob(spark, d, p, n_buckets=8, source_format="wire")
    stats = resumed.run()
    assert [s.skipped for s in stats[:2]] == [True, True]
    got = normalize(resumed.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])


def test_salted_dedup_identical_under_extreme_skew(spark, tmp_path):
    """north_star skew handling: with one conversation dominating the
    stream (zipf_a=2.0), the explicit salted two-phase LWW produces the
    IDENTICAL final table as the plain dedup and the oracle. Salting is
    forced through auto escalation: a zero ratio threshold escalates
    every batch after the first."""
    cfg = GenConfig(n_events=4000, n_conversations=40, zipf_a=2.0, seed=11)
    ev = gen_change_events(cfg)
    d = str(tmp_path / "in")
    write_batches(ev, d, n_batches=3)
    plain = CdcApplyJob(spark, d, str(tmp_path / "a"), n_buckets=8)
    plain.run()
    salted = CdcApplyJob(spark, d, str(tmp_path / "b"), n_buckets=8)
    salted.AUTO_SALT_RATIO = 0.0
    auto = f"auto_salted{CdcApplyJob.AUTO_SALTS}"
    assert [s.lww_variant for s in salted.run()] == ["max_by", auto, auto]
    a = normalize(plain.table.read(spark).toPandas())
    b = normalize(salted.table.read(spark).toPandas())
    pd.testing.assert_frame_equal(a[CMP], b[CMP])
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(b[CMP], exp[CMP])
    # wire path under the same skew: packed-argmax LWW (map-side
    # collapse of the hot key) produces the identical table too
    from mysql_tracker_spark.sources.wire import write_wire_batches

    dw = str(tmp_path / "inw")
    write_wire_batches(ev, dw, n_batches=3)
    packed = CdcApplyJob(
        spark, dw, str(tmp_path / "c"), n_buckets=8, source_format="wire"
    )
    packed.run()
    c = normalize(packed.table.read(spark).toPandas())
    pd.testing.assert_frame_equal(c[CMP], exp[CMP])


def test_rollback_reverts_watermark_and_replay_converges(spark, stream, tmp_path):
    """Operational escape hatch: roll back to the snapshot after batch
    1 — data AND replay watermark revert together — then re-run; the
    fenced idempotent MERGE replays the rolled-back batches and
    converges to the oracle state. History stays time-travelable."""
    d, ev = stream
    p = str(tmp_path / "t")
    job = CdcApplyJob(spark, d, p, n_buckets=8)
    job.run(max_batches=1)
    v1 = job.table.current_version()
    wm1 = job.watermark()
    job.run()
    assert job.watermark() != wm1  # moved past batch 1

    job.table.rollback(v1)
    # watermark reverted with the data (same snapshot properties)
    assert job.watermark() == wm1
    rows_v1 = job.table.read(spark, version=v1).count()
    assert job.table.read(spark).count() == rows_v1

    # replay the rolled-back range: a fresh run applies batches 2..n
    job2 = CdcApplyJob(spark, d, p, n_buckets=8)
    stats = job2.run()
    assert any(not s.skipped for s in stats)
    got = normalize(job2.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])


def test_jsonl_source_format_matches_oracle(spark, tmp_path):
    """JSON-lines ingest (the reference's flattened Avro/JSON record
    shape): schema-first read, absent fields null, same final table as
    the parquet path and the sequential oracle."""
    from mysql_tracker_spark.sources.binlog_gen import write_jsonl_batches

    ev = gen_change_events(GenConfig(n_events=2500, n_conversations=90, seed=19))
    d = str(tmp_path / "in")
    write_jsonl_batches(ev, d, n_batches=3)
    job = CdcApplyJob(spark, d, str(tmp_path / "t"), n_buckets=8, source_format="jsonl")
    stats = job.run()
    assert sum(s.rows_in for s in stats) == len(ev)
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])
    assert got["ts"].tolist() == exp["ts"].tolist()


def test_auto_skew_escalation_on_flood(spark, tmp_path):
    """Auto skew handling (north_star 'explicit skew splitting for hot
    conversations', no operator flag): a single-key flood drives the
    collapse ratio (applied rows / LWW winners) over AUTO_SALT_RATIO,
    so the NEXT batch switches to the two-phase salted LWW; a uniform
    workload never escalates; both converge to the sequential oracle
    (the variants are semantically identical). run() applies one batch
    after another, so escalation and de-escalation follow strictly on
    the next batch."""
    from mysql_tracker_spark.sources.wire import write_wire_batches

    # flood: 9000 events over <=18 (conv_id, turn_idx) keys, zipf(3.0)
    # — hundreds of updates per key in every batch
    ev = gen_change_events(
        GenConfig(n_events=9000, n_conversations=6, max_turns=3, zipf_a=3.0, seed=13)
    )
    d = str(tmp_path / "flood")
    write_wire_batches(ev, d, n_batches=3)
    job = CdcApplyJob(
        spark, d, str(tmp_path / "t"), n_buckets=8, source_format="wire"
    )
    stats = [s for s in job.run() if not s.skipped]
    # batch 0 has no prior ratio yet; its flood escalates batch 1 on
    salted = f"auto_salted{CdcApplyJob.AUTO_SALTS}"
    assert [s.lww_variant for s in stats] == ["packed", salted, salted]
    assert all(
        s.rows_applied / s.rows_winners >= CdcApplyJob.AUTO_SALT_RATIO for s in stats
    )
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])

    # uniform control: ratio stays low, packed throughout
    ev_u = gen_change_events(GenConfig(n_events=3000, n_conversations=400, seed=14))
    du = str(tmp_path / "uni")
    write_wire_batches(ev_u, du, n_batches=3)
    job_u = CdcApplyJob(
        spark, du, str(tmp_path / "tu"), n_buckets=8, source_format="wire"
    )
    stats_u = [s for s in job_u.run() if not s.skipped]
    assert all(s.lww_variant == "packed" for s in stats_u)
    got_u = normalize(job_u.table.read(spark).toPandas())
    exp_u = normalize(expected_final_state(ev_u))
    pd.testing.assert_frame_equal(got_u[CMP], exp_u[CMP])

    # DE-escalation: the flood table keeps applying, now with a
    # uniform continuation — one salted batch (decided by the last
    # flood ratio), then back to packed
    import os

    ev2 = gen_change_events(
        GenConfig(n_events=3000, n_conversations=400, seed=15, file_base=5000)
    )
    d2 = str(tmp_path / "flood_then_uniform")
    os.makedirs(d2)
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            os.symlink(os.path.join(d, f), os.path.join(d2, f))
    write_wire_batches(ev2, os.path.join(d2, "cont"), n_batches=2)
    for f in sorted(os.listdir(os.path.join(d2, "cont"))):
        os.rename(os.path.join(d2, "cont", f), os.path.join(d2, f"zz_{f}"))
    job2 = CdcApplyJob(
        spark, d2, str(tmp_path / "t2"), n_buckets=8, source_format="wire"
    )
    variants = [s.lww_variant for s in job2.run() if not s.skipped]
    auto = f"auto_salted{CdcApplyJob.AUTO_SALTS}"
    # 3 flood batches + 2 uniform: batches 1-3 run under flood ratios
    # (auto), batch 4 under the first uniform batch's ratio (packed)
    assert variants == ["packed", auto, auto, auto, "packed"], variants


def test_invalid_position_detect_and_reset(spark, stream, tmp_path):
    """C7 position probe + C5 recovery: a watermark pointing before the
    retained input (retention gap) is detected; reset_policy='reset_earliest'
    clears it and a full replay converges to the oracle state."""
    import os

    d, ev = stream
    p = str(tmp_path / "t")
    job = CdcApplyJob(spark, d, p, n_buckets=8)
    job.run()
    probe = job.validate_position()
    assert probe["valid"]
    # boundary-file probe: reads only the first+last manifest entries,
    # never a full retention scan (names are offset-ordered); deep=True
    # audits the same range over every file
    assert probe["probe_files"] <= 2
    deep = job.validate_position(deep=True)
    assert deep["probe_files"] > 2
    assert (deep["lo"], deep["hi"]) == (probe["lo"], probe["hi"])
    # simulate retention: first two batch files expire after commit
    d2 = str(tmp_path / "retained")
    os.makedirs(d2)
    files = sorted(os.listdir(d))
    for f in files[2:]:
        os.symlink(os.path.join(d, f), os.path.join(d2, f))
    # fresh table whose watermark predates the retained range
    p2 = str(tmp_path / "t2")
    CdcApplyJob(spark, d, p2, n_buckets=8).run(max_batches=1)
    stale = CdcApplyJob(spark, d2, p2, n_buckets=8)
    stale.prepare()
    wm = stale.watermark()
    probe_fail = None
    try:
        stale.validate_position()  # default: fail loudly
    except ValueError as e:
        probe_fail = str(e)
    assert probe_fail and "outside retained" in probe_fail
    with pytest.raises(ValueError, match="reset_policy"):
        stale.validate_position(reset_policy="earliest")  # one spelling only
    # the streaming front-end runs the configured probe before it
    # drains anything, as the batch run() does
    from mysql_tracker_spark.streaming import CdcStreamJob

    tail = CdcStreamJob(
        spark, d2, p2, str(tmp_path / "ckpt"), n_buckets=8, on_invalid_position="fail"
    )
    with pytest.raises(ValueError, match="outside retained"):
        tail.run_available()
    assert stale.watermark() == wm  # nothing applied
    # the configured reset keeps its probe result on the job
    reset = CdcApplyJob(spark, d2, p2, n_buckets=8, on_invalid_position="reset_earliest")
    reset.probe_position()
    assert reset.position_probe["action"] == "reset"
    assert reset.watermark()[0] is None  # checkpoint cleared


def test_schema_evolved_mid_stream(spark, stream, tmp_path):
    d, ev = stream
    job = CdcApplyJob(spark, d, str(tmp_path / "t"), n_buckets=8)
    job.run()
    sch = dict(job.table.read(spark).dtypes)
    assert sch["score"] == "bigint"  # ADD COLUMN INT then widened to BIGINT


def test_job_from_config_start_override(spark, stream, tmp_path):
    """O3 config wiring + C2 position-override fallback: a configured
    start position fences out the earlier events; once a checkpoint is
    committed it takes precedence over the config."""
    from mysql_tracker_spark.config import JobConfig

    d, ev = stream
    full = CdcApplyJob(spark, d, str(tmp_path / "full"), n_buckets=8)
    st = full.run()
    # start from the end of batch 2 -> first two batches fenced
    cfg = JobConfig(
        input_dir=d,
        table_path=str(tmp_path / "t"),
        n_buckets=8,
        start_file=st[1].file_end,
        start_pos=st[1].pos_end,
        on_invalid_position="fail",
    )
    p = str(tmp_path / "cfg.json")
    cfg.dump(p)
    job = CdcApplyJob.from_config(spark, JobConfig.load(p))
    stats = job.run()
    # only the tail after the override was applied
    assert sum(s.rows_applied for s in stats) < sum(s.rows_applied for s in st)
    got_keys = job.table.read(spark).count()
    assert 0 < got_keys < full.table.read(spark).count() + 1
    # a second run resumes from the committed checkpoint (all skipped)
    again = CdcApplyJob.from_config(spark, JobConfig.load(p))
    assert all(s.skipped for s in again.run())


# ---------------------------------------------------------------------------
# destructive DDL: TRUNCATE applies (empty-overwrite + suffix replay),
# DROP/RENAME raise by operator policy (SimpleDdlParser.java:60-70 classes)
# ---------------------------------------------------------------------------

def _inject_ddl_event(ev, frac, op, sql):
    """Insert a DDL frame at ~frac of the stream, at a fresh position
    just before an existing frame boundary."""
    import numpy as np

    fp = ev["file"].astype(str) + ":" + ev["pos"].astype(str).str.zfill(12)
    frame_rows = np.flatnonzero((fp != fp.shift(1)).to_numpy())
    cut_row = int(frame_rows[int(len(frame_rows) * frac)])
    f, p = ev["file"].iloc[cut_row], int(ev["pos"].iloc[cut_row])
    row = {
        "file": f, "pos": p - 1, "row_idx": 0, "server_id": 1,
        "ts": ev["ts"].iloc[cut_row], "xid": None, "op": op,
        "schema_name": "chat", "table_name": "transcripts",
        "is_ddl": True, "ddl_sql": sql, "before": None, "after": None,
    }
    # the new row carries ev's column dtypes: an all-NA column of another
    # dtype makes concat warn (pandas deprecation)
    row_df = pd.DataFrame([row]).astype(ev.dtypes[list(row)].to_dict())
    out = pd.concat(
        [ev.iloc[:cut_row], row_df, ev.iloc[cut_row:]],
        ignore_index=True,
    )
    for c in ("before", "after"):
        out[c] = out[c].astype(object).where(out[c].notna(), None)
    out["xid"] = out["xid"].astype("Int64")
    return out, (f, p - 1)


def _suffix_after(ev, fp):
    f, p = fp
    mask = (ev["file"] > f) | ((ev["file"] == f) & (ev["pos"] > p))
    return ev[mask]


@pytest.mark.parametrize("fmt", ["typed", "wire"])
def test_truncate_mid_stream(spark, tmp_path, fmt):
    """A mid-stream TRUNCATE of the target wipes everything applied
    before it; the final table equals the LWW replay of the SUFFIX
    only. Replay after completion stays a no-op (exactly-once)."""
    from mysql_tracker_spark.sources.wire import write_wire_batches

    ev = gen_change_events(GenConfig(n_events=3000, n_conversations=120, seed=13))
    ev2, fp = _inject_ddl_event(ev, 0.55, "TRUNCATE", "TRUNCATE TABLE chat.transcripts")
    d = str(tmp_path / "in")
    if fmt == "typed":
        write_batches(ev2, d, n_batches=4)
    else:
        write_wire_batches(ev2, d, n_batches=4)
    job = CdcApplyJob(
        spark, d, str(tmp_path / "t"), n_buckets=8, source_format=fmt
    )
    job.run()
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(_suffix_after(ev2, fp)))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])
    again = CdcApplyJob(spark, d, str(tmp_path / "t"), n_buckets=8, source_format=fmt)
    assert all(s.skipped for s in again.run())


def test_drop_table_raises_unless_ignored(spark, tmp_path):
    ev = gen_change_events(GenConfig(n_events=800, n_conversations=50, seed=17))
    ev2, _ = _inject_ddl_event(ev, 0.5, "DROP", "DROP TABLE chat.transcripts")
    d = str(tmp_path / "in")
    write_batches(ev2, d, n_batches=2)
    job = CdcApplyJob(spark, d, str(tmp_path / "t1"), n_buckets=4)
    with pytest.raises(RuntimeError, match="DROP"):
        job.run()
    # operator override: skip destructive DDL (the reference's own
    # behavior — it only invalidates its meta cache) and apply the rest
    job2 = CdcApplyJob(
        spark, d, str(tmp_path / "t2"), n_buckets=4, on_destructive_ddl="ignore"
    )
    job2.run()
    got = normalize(job2.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev2))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])


def test_config_filters_wired_and_validated(spark, tmp_path):
    """F1/F2 from JobConfig are honored: a filter excluding the target
    table fails fast (the job would silently drop every event);
    an including filter leaves the apply result unchanged."""
    from mysql_tracker_spark.config import JobConfig

    ev = gen_change_events(GenConfig(n_events=800, n_conversations=50, seed=19))
    d = str(tmp_path / "in")
    write_batches(ev, d, n_batches=2)
    base = dict(input_dir=d, table_path=str(tmp_path / "t"), n_buckets=4)

    with pytest.raises(ValueError, match="excludes the target"):
        CdcApplyJob.from_config(
            spark, JobConfig(**base, filter_regex=r"otherdb\..*")
        )
    with pytest.raises(ValueError, match="excludes the target"):
        CdcApplyJob.from_config(
            spark, JobConfig(**base, allowlist=[["otherdb", "noise_tbl"]])
        )
    job = CdcApplyJob.from_config(
        spark,
        JobConfig(
            **base,
            filter_regex=r"chat\..*",
            allowlist=[["chat", "transcripts"]],
        ),
    )
    job.run()
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])


def test_input_manifest_gates_consumption(spark, tmp_path):
    """`_batches.json` is the input-side commit point: only files the
    manifest names are consumed; extending it (atomic rename) releases
    the rest, and the resumed job converges to the full final state."""
    from mysql_tracker_spark.runner import write_input_manifest

    ev = gen_change_events(GenConfig(n_events=1000, n_conversations=50, seed=29))
    d = str(tmp_path / "in")
    paths = write_batches(ev, d, n_batches=4)
    write_input_manifest(d, paths[:2])
    p = str(tmp_path / "t")
    job = CdcApplyJob(spark, d, p, n_buckets=4)
    stats = job.run()
    assert len(stats) == 2  # manifest hides the other two files
    partial_rows = len(job.table.read(spark).toPandas())

    write_input_manifest(d)  # producer commits the remaining files
    resumed = CdcApplyJob(spark, d, p, n_buckets=4)
    stats2 = resumed.run()
    assert [s.skipped for s in stats2[:2]] == [True, True]
    got = normalize(resumed.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])
    assert partial_rows <= len(got)


def test_auto_expire_bounds_snapshots_and_reclaims_files(spark, tmp_path):
    """expire_keep_last: per-batch commits don't accumulate unbounded
    metadata; rewritten buckets' old files are reclaimed; correctness
    and replay fencing (watermark lives in the CURRENT snapshot) hold."""
    import os

    ev = gen_change_events(GenConfig(n_events=1500, n_conversations=60, seed=37))
    d = str(tmp_path / "in")
    write_batches(ev, d, n_batches=5)
    p = str(tmp_path / "t")
    job = CdcApplyJob(spark, d, p, n_buckets=4, expire_keep_last=2)
    job.run()
    snaps = [f for f in os.listdir(os.path.join(p, "snapshots")) if f.endswith(".json")]
    assert len(snaps) <= 2
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])
    # fencing survives expiry: full rerun is a no-op
    again = CdcApplyJob(spark, d, p, n_buckets=4, expire_keep_last=2)
    assert all(s.skipped for s in again.run())


def test_typed_apply_honors_custom_key_cols(spark, tmp_path):
    """Round-4 review fix: the typed ingest path must key on the
    CONFIGURED key_cols, not the hardcoded (conv_id, turn_idx) —
    a renamed-key stream applied with key_cols=('user_id','msg_idx')
    converges to the same oracle state."""
    from pyspark.sql import types as T

    from mysql_tracker_spark.runner import CdcApplyJob
    from mysql_tracker_spark.schema import TRANSCRIPTS_BASE_SCHEMA
    from mysql_tracker_spark.sources.binlog_gen import (
        GenConfig,
        expected_final_state,
        gen_change_events,
        write_batches,
    )
    from tests.conftest import normalize

    ev = gen_change_events(GenConfig(n_events=1200, n_conversations=40, seed=17))
    ren = {"conv_id": "user_id", "turn_idx": "msg_idx"}

    def rename_map(m):
        if not isinstance(m, dict):
            return m
        return {ren.get(k, k): v for k, v in m.items()}

    ev2 = ev.copy()
    ev2["before"] = ev2["before"].map(rename_map)
    ev2["after"] = ev2["after"].map(rename_map)
    in_dir = str(tmp_path / "in")
    write_batches(ev2, in_dir, n_batches=3)
    base = T.StructType(
        [
            T.StructField(ren.get(f.name, f.name), f.dataType, f.nullable)
            for f in TRANSCRIPTS_BASE_SCHEMA.fields
        ]
    )
    job = CdcApplyJob(
        spark, in_dir, str(tmp_path / "tbl"), n_buckets=8,
        key_cols=("user_id", "msg_idx"), base_schema=base,
    )
    job.run()
    got = (
        job.table.read(spark)
        .toPandas()
        .rename(columns={"user_id": "conv_id", "msg_idx": "turn_idx"})
    )
    exp = normalize(expected_final_state(ev))
    assert normalize(got).equals(exp), "custom-key typed apply != oracle"


def test_typed_apply_replay_overlap_counts_only_past_fence_rows(
    spark, tmp_path
):
    """Round-4 review fix: a replay-overlap batch must report
    rows_applied for PAST-FENCE rows only (the wire path's semantics),
    not the whole delivered batch."""
    from mysql_tracker_spark.runner import CdcApplyJob
    from mysql_tracker_spark.sources.binlog_gen import (
        GenConfig,
        gen_change_events,
        write_batches,
    )

    ev = gen_change_events(GenConfig(n_events=1000, n_conversations=30, seed=9))
    in2 = str(tmp_path / "in2")
    write_batches(ev, in2, n_batches=2)
    tbl = str(tmp_path / "t")
    # apply batch 0, then re-apply BOTH files as one regrouped batch:
    # the overlap prefix is fenced, so rows_applied must count only
    # batch 1's past-fence target DML
    CdcApplyJob(spark, in2, tbl, n_buckets=8).run(max_batches=1)
    solo = CdcApplyJob(spark, in2, tbl + "_full", n_buckets=8)
    full_stats = solo.run()
    exp_applied_b1 = full_stats[1].rows_applied
    re_job = CdcApplyJob(spark, in2, tbl, n_buckets=8, files_per_batch=2)
    st = re_job.run()
    assert len(st) == 1 and not st[0].skipped
    assert st[0].rows_applied == exp_applied_b1, (
        st[0].rows_applied, exp_applied_b1,
    )


def test_manifest_mixed_formats_filtered_by_job_format(spark, tmp_path):
    """write_input_manifest(files=None) snapshots BOTH batch extensions;
    batch_files keeps only entries of the job's own format, so a stray
    foreign-format file in a mixed producer dir can't crash the parquet
    reader (jsonl entry) or silently null out (parquet under the json
    reader) — the replay still converges to the oracle."""
    import os

    from mysql_tracker_spark.runner import write_input_manifest

    ev = gen_change_events(GenConfig(n_events=800, n_conversations=40, seed=31))
    d = str(tmp_path / "in")
    write_batches(ev, d, n_batches=3)
    with open(os.path.join(d, "stray.jsonl"), "w") as f:
        f.write('{"not": "a change event"}\n')
    write_input_manifest(d)  # snapshots both extensions
    job = CdcApplyJob(spark, d, str(tmp_path / "t"), n_buckets=4)
    assert all(f.endswith(".parquet") for g in job.batch_files() for f in g)
    job.run()
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])


def test_staging_sweep_ownership_liveness(spark, tmp_path):
    """prepare()'s staging sweep is ownership-liveness gated: a
    backdated-but-LIVE staging dir (fresh owner marker — e.g. a >1h
    in-flight batch of a concurrent job) survives, a young dir whose
    owner marker went stale is reaped immediately, markerless dirs
    keep the conservative age gate, and stale markers themselves are
    swept."""
    import os
    import shutil
    import time

    ev = gen_change_events(GenConfig(n_events=400, n_conversations=20, seed=41))
    d = str(tmp_path / "in")
    write_batches(ev, d, n_batches=1)
    tbl = str(tmp_path / "t")
    job = CdcApplyJob(spark, d, tbl, n_buckets=4)
    job.run()
    # the job heartbeats its own ownership marker
    assert os.path.exists(os.path.join(tbl, f"_owner_{job._run_id}.alive"))
    job.close()
    assert not os.path.exists(os.path.join(tbl, f"_owner_{job._run_id}.alive"))

    now = time.time()
    old = now - 2 * CdcApplyJob.STAGING_DEBRIS_AGE_S
    stale = now - 2 * CdcApplyJob.OWNER_STALE_S

    def mk(name, mtime=None):
        p = os.path.join(tbl, name)
        os.makedirs(p)
        with open(os.path.join(p, "part-0.parquet"), "w") as f:
            f.write("x")
        if mtime is not None:
            os.utime(p, (mtime, mtime))
        return p

    def marker(run_id, mtime=None):
        p = os.path.join(tbl, f"_owner_{run_id}.alive")
        with open(p, "w"):
            pass
        if mtime is not None:
            os.utime(p, (mtime, mtime))
        return p

    live_dir = mk("_delta_aaaaaaaa_5", mtime=old)  # ancient dir...
    marker("aaaaaaaa")                             # ...live owner
    dead_dir = mk("_winners_bbbbbbbb_3")           # fresh dir...
    stale_marker = marker("bbbbbbbb", mtime=stale)  # ...dead owner
    legacy_young = mk("_delta_cccccccc_1")         # no marker, young
    legacy_old = mk("_delta_dddddddd_1", mtime=old)  # no marker, old

    sweeper = CdcApplyJob(spark, d, tbl, n_buckets=4)
    sweeper.prepare()
    assert os.path.isdir(live_dir), "live owner's staging must survive"
    assert not os.path.isdir(dead_dir), "dead owner's staging must be reaped"
    assert os.path.isdir(legacy_young), "markerless young dir keeps age gate"
    assert not os.path.isdir(legacy_old), "markerless old dir is debris"
    assert not os.path.exists(stale_marker), "stale marker is swept"
    sweeper.close()
    shutil.rmtree(live_dir)
    shutil.rmtree(legacy_young)
