"""Regression tests for the session's review findings: DDL replay
fencing on the typed path, cross-bucket PK moves under COW, streaming
delivery-order independence, heartbeat arming, config validation,
format-aware position probes, and streaming-operator edge cases."""

import os
import time

import pandas as pd
import pytest
from pyspark.sql import types as T

from mysql_tracker_spark.runner import CdcApplyJob
from mysql_tracker_spark.sources.binlog_gen import (
    GenConfig,
    expected_final_state,
    gen_change_events,
    write_batches,
)

from .conftest import normalize
from .test_e2e_replay import _inject_ddl_event, _suffix_after

CMP = ["conv_id", "turn_idx", "role", "text", "tool", "score"]


def test_truncate_not_reexecuted_on_partial_overlap_replay(spark, tmp_path):
    """Typed-path DDL fence: a replay whose batch grouping OVERLAPS the
    committed watermark (run 2 groups more files per batch) must not
    re-execute the already-applied TRUNCATE — doing so wipes rows whose
    DML events are below the watermark and thus never re-applied."""
    ev = gen_change_events(GenConfig(n_events=2000, n_conversations=80, seed=13))
    ev2, fp = _inject_ddl_event(
        ev, 0.3, "TRUNCATE", "TRUNCATE TABLE chat.transcripts"
    )
    d = str(tmp_path / "in")
    write_batches(ev2, d, n_batches=4)
    # run 1: apply the first two of four files (covers the TRUNCATE at
    # ~30% and a chunk of post-truncate DML), then stop
    job1 = CdcApplyJob(spark, d, str(tmp_path / "t"), n_buckets=8, files_per_batch=1)
    applied = job1.run(max_batches=2)
    assert not any(s.skipped for s in applied)
    # run 2: same input, but ONE group of all four files — the group's
    # range extends past the watermark, so it is not skipped, and its
    # DDL rows include the already-committed TRUNCATE
    job2 = CdcApplyJob(spark, d, str(tmp_path / "t"), n_buckets=8, files_per_batch=4)
    job2.run()
    got = normalize(job2.table.read(spark).toPandas())
    exp = normalize(expected_final_state(_suffix_after(ev2, fp)))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])


def test_pk_move_across_buckets_no_ghost(spark, tmp_path):
    """Typed COW path: an UPDATE that moves a row to a conv_id hashing
    to a DIFFERENT bucket must tombstone the old key even though the
    observe pass's after-image bucket set does not contain the before
    bucket (regression: the before bucket was missing from
    affected_buckets, so merge carried it forward by reference and the
    old row survived as a ghost)."""
    from mysql_tracker_spark.lakestore.spark_hash import pmod_bucket

    nb = 8
    ev = gen_change_events(GenConfig(n_events=60, n_conversations=4, seed=5))
    # the victim: the live state of some key early in the stream
    dml = ev[(ev["op"] == "INSERT")].iloc[0]
    src_conv = dml["after"]["conv_id"]
    turn = dml["after"]["turn_idx"]
    # a destination conv id in a DIFFERENT bucket
    dst_conv = next(
        c
        for c in (f"moved_{i:03d}" for i in range(100))
        if pmod_bucket(c, "string", nb) != pmod_bucket(src_conv, "string", nb)
    )
    last = ev.iloc[-1]
    before = dict(dml["after"])
    after = {**before, "conv_id": dst_conv, "text": "moved away"}
    move_row = {
        "file": last["file"], "pos": int(last["pos"]) + 50, "row_idx": 0,
        "server_id": 1, "ts": last["ts"], "xid": None, "gtid": None,
        "op": "UPDATE", "schema_name": "chat", "table_name": "transcripts",
        "is_ddl": False, "ddl_sql": None, "before": before, "after": after,
    }
    # the new row carries ev's column dtypes: an all-NA column of another
    # dtype makes concat warn (pandas deprecation)
    move_df = pd.DataFrame([move_row]).astype(ev.dtypes[list(move_row)].to_dict())
    ev2 = pd.concat([ev, move_df], ignore_index=True)
    for c in ("before", "after"):
        ev2[c] = ev2[c].astype(object).where(ev2[c].notna(), None)
    ev2["xid"] = ev2["xid"].astype("Int64")
    d = str(tmp_path / "in")
    # two batches: the original INSERT of the victim key lands in an
    # earlier batch than the cross-bucket move
    write_batches(ev2, d, n_batches=2)
    job = CdcApplyJob(spark, d, str(tmp_path / "t"), n_buckets=nb, files_per_batch=1)
    job.run()
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev2))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])
    keys = set(zip(got["conv_id"], got["turn_idx"]))
    assert (dst_conv, int(turn)) in keys
    assert (src_conv, int(turn)) not in keys  # the ghost


def test_streaming_out_of_order_mtime_delivery(spark, tmp_path):
    """Spark's file stream source orders deliveries by MODIFICATION
    TIME; reversed mtimes (an object-store backfill) must not make the
    stream apply later-offset files first and fence out the earlier
    ones forever. The front-end drains in manifest order regardless of
    delivery order."""
    from mysql_tracker_spark.streaming import CdcStreamJob

    ev = gen_change_events(GenConfig(n_events=900, n_conversations=40, seed=31))
    d = str(tmp_path / "in")
    paths = sorted(write_batches(ev, d, n_batches=3))
    # reverse the mtimes: earliest-named file gets the NEWEST stamp
    now = time.time()
    for i, p in enumerate(paths):
        os.utime(p, (now - i * 100, now - i * 100))
    sj = CdcStreamJob(
        spark, d, str(tmp_path / "t"), str(tmp_path / "ck"),
        n_buckets=4, max_files_per_trigger=1,
    )
    sj.run_available()
    got = normalize(sj.job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])


def test_heartbeat_stall_arms_before_first_batch(spark, tmp_path):
    """The M4 watchdog must arm at attach(): a query that never
    completes its FIRST batch is exactly the dead fetcher it exists to
    notice (regression: progress_ok stayed True forever)."""
    from mysql_tracker_spark.streaming import CdcStreamJob
    from mysql_tracker_spark.streaming.stream_runner import Heartbeat

    ev = gen_change_events(GenConfig(n_events=100, n_conversations=5, seed=3))
    d = str(tmp_path / "in")
    write_batches(ev, d, n_batches=1)
    sj = CdcStreamJob(
        spark, d, str(tmp_path / "t"), str(tmp_path / "ck"), n_buckets=2
    )
    sj.job.prepare()

    class _StuckQuery:
        isActive = True

        @staticmethod
        def exception():
            return None

    hb = Heartbeat(sj, stall_after_s=0.05)
    hb.attach(_StuckQuery())
    time.sleep(0.15)
    p = hb.probe()
    assert p["query_alive"] and p["progress_ok"] is False and p["reload_needed"]


def test_from_config_invalid_position_policy_rejected(spark, tmp_path):
    """A typo in on_invalid_position must fail fast, not silently
    disable the errno-1236 validation the operator configured."""
    from mysql_tracker_spark.config import JobConfig

    cfg = JobConfig(
        input_dir=str(tmp_path / "in"),
        table_path=str(tmp_path / "t"),
        on_invalid_position="reset-earliest",  # typo: underscore form
    )
    with pytest.raises(ValueError, match="on_invalid_position"):
        CdcApplyJob.from_config(spark, cfg)


def test_validate_position_works_for_jsonl(spark, tmp_path):
    """C5/C7 position probe must read jsonl inputs with the jsonl
    reader (regression: unconditional spark.read.parquet crashed)."""
    from mysql_tracker_spark.sources.binlog_gen import write_jsonl_batches

    ev = gen_change_events(GenConfig(n_events=300, n_conversations=20, seed=7))
    d = str(tmp_path / "in")
    write_jsonl_batches(ev, d, n_batches=2)
    job = CdcApplyJob(
        spark, d, str(tmp_path / "t"), n_buckets=4, source_format="jsonl"
    )
    job.run()
    probe = job.validate_position(reset_policy="fail")
    assert probe["valid"] is True and probe["action"] == "none"


def test_windowed_counts_non_string_group_col(spark, tmp_path):
    """The finalized-window read must keep the group column's OWN type
    (regression: hardcoded StringType failed the parquet read for a
    long group column)."""
    import datetime

    from mysql_tracker_spark.streaming.windows import run_windowed_counts_files

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    d = str(tmp_path / "in")
    os.makedirs(d)
    t0 = datetime.datetime(2026, 1, 1)
    pd.DataFrame(
        {
            "ts": [t0, t0 + datetime.timedelta(minutes=30)],
            "user_id": pd.array([1, 2], dtype="int64"),
            "value": [2.0, 3.0],
        }
    ).to_parquet(
        os.path.join(d, "f0.parquet"),
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    pd.DataFrame(
        {
            "ts": [t0 + datetime.timedelta(hours=3)],
            "user_id": pd.array([1], dtype="int64"),
            "value": [1.0],
        }
    ).to_parquet(
        os.path.join(d, "f1.parquet"),
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    out = run_windowed_counts_files(
        spark, d, schema, str(tmp_path / "ck"), str(tmp_path / "out"),
        window="1 hour", delay="30 minutes", group_col="user_id",
    )
    rows = {(r.user_id, r.n, r.total) for r in out.collect()}
    assert (1, 1, 2.0) in rows and (2, 1, 3.0) in rows
    assert dict(out.dtypes)["user_id"] == "bigint"


def test_sessionize_survives_null_ts(spark, tmp_path):
    """One poison event with a NULL event time must not kill the
    stateful query (regression: int(NaN) raised and the checkpoint
    replayed the poison forever)."""
    import datetime

    from mysql_tracker_spark.streaming.stateful import run_sessionize_files

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    d = str(tmp_path / "in")
    os.makedirs(d)
    t0 = datetime.datetime(2026, 1, 1)
    pd.DataFrame(
        {
            "user_id": pd.array([1, 1, 1], dtype="int64"),
            "ts": [t0, pd.NaT, t0 + datetime.timedelta(hours=2)],
            "event_id": pd.array([1, 2, 3], dtype="int64"),
        }
    ).to_parquet(
        os.path.join(d, "f0.parquet"),
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    out = run_sessionize_files(
        spark, d, schema, str(tmp_path / "ck"), str(tmp_path / "out"),
        gap_s=1800.0,
    )
    # the first session (single event at t0) closed when the 2h-later
    # event arrived; the null-ts event contributed nothing
    rows = [(r.user_id, r.n_events) for r in out.collect()]
    assert rows == [(1, 1)]


def test_asof_join_ignores_null_right_timestamps(spark):
    """A right row with NULL ts must never match (regression: ASC NULLS
    FIRST sorted it to the partition head where last(ignorenulls)
    handed its payload to early left rows); the window and binned
    variants must agree."""
    import datetime

    from mysql_tracker_spark.operators.asof import asof_join, asof_join_binned

    t = datetime.datetime(2026, 1, 1)

    def ts(s):
        return t + datetime.timedelta(seconds=s)

    left = spark.createDataFrame(
        [("k", 1, ts(5))], ["k", "lid", "lts"]
    )
    right = spark.createDataFrame(
        [("k", None, "X"), ("k", ts(10), "Y")],
        T.StructType(
            [
                T.StructField("k", T.StringType()),
                T.StructField("rts", T.TimestampType()),
                T.StructField("v", T.StringType()),
            ]
        ),
    )
    a = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        right_cols={"match_v": "v"},
    ).collect()
    assert len(a) == 1 and a[0]["match_v"] is None
    b = asof_join_binned(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        right_cols={"match_v": "v"}, left_id=["lid"], tolerance_s=3600.0,
    ).collect()
    assert len(b) == 1 and b[0]["match_v"] is None


def test_ann_serving_tolerates_zero_vectors_and_derived_embeddings(spark):
    """Serving-path ANN must survive (a) an exactly-zero embedding
    (ANSI divide-by-zero) and (b) a DERIVED higher-order embedding
    expression as input (Catalyst projection collapse into the pandas
    UDF argument — the generator-barrier regression)."""
    from pyspark.sql import functions as F

    from mysql_tracker_spark.functions.sketches import ann_lsh
    from mysql_tracker_spark.functions.similarity import (
        ann_ivf,
        ann_ivf_pq,
        hashed_embedding,
        knn_bruteforce,
    )

    docs = spark.createDataFrame(
        [(i, f"doc number {i} about topic {i % 3}") for i in range(30)]
        + [(99, "")],  # empty text -> exactly-zero hashed embedding
        ["vec_id", "txt"],
    )
    vecs = docs.select(
        "vec_id", hashed_embedding(F.col("txt"), dim=16).alias("embedding")
    )
    qs = vecs.filter(F.col("vec_id") < 3)
    for fn, kw in [
        (knn_bruteforce, {}),
        (ann_ivf, {"dim": 16, "n_cells": 4, "n_probe": 4}),
        (ann_ivf_pq, {"dim": 16, "n_cells": 4, "n_probe": 4, "m_subs": 4,
                      "n_codes": 8, "rerank": 8}),
        (ann_lsh, {"dim": 16, "n_planes": 4, "n_tables": 2}),
    ]:
        out = fn(vecs, qs, k=3, **kw).collect()
        assert out, fn.__name__


def test_regex_filter_fully_anchored_with_caret(spark):
    """'^db\\.users' must not leak db.users_archive (regression: a
    leading '^' skipped the end anchor entirely)."""
    from mysql_tracker_spark.operators.filters import regex_name_filter

    df = spark.createDataFrame(
        [("db", "users"), ("db", "users_archive")],
        ["schema_name", "table_name"],
    )
    got = {
        r["table_name"]
        for r in regex_name_filter(df, r"^db\.users").collect()
    }
    assert got == {"users"}
    # and explicit full anchoring still works unchanged
    got2 = {
        r["table_name"]
        for r in regex_name_filter(df, r"^db\.users$").collect()
    }
    assert got2 == {"users"}


def test_query_class_filter_null_is_ddl_survives(spark):
    from mysql_tracker_spark.operators.filters import query_class_filter

    df = spark.createDataFrame(
        [("INSERT", None), ("INSERT", True)],
        T.StructType(
            [
                T.StructField("op", T.StringType()),
                T.StructField("is_ddl", T.BooleanType()),
            ]
        ),
    )
    got = query_class_filter(df, drop_ddl=True, drop_txn=False).collect()
    assert len(got) == 1 and got[0]["is_ddl"] is None


def test_offset_range_empty_batch_sentinel(spark):
    from mysql_tracker_spark.operators.parse import offset_range

    empty = spark.createDataFrame(
        [], T.StructType(
            [T.StructField("file", T.StringType()), T.StructField("pos", T.LongType())]
        )
    )
    r = offset_range(empty)
    assert r == {
        "file_start": None, "pos_start": None,
        "file_end": None, "pos_end": None, "rows": 0,
    }


def test_decode_batch_pandas_corruption_tolerance():
    """The pandas reference decoder feeds the DRIVER-side DDL decode —
    a corrupt frame must surface as crc_ok=False (or drop when
    truncated), never crash the apply (regression: UnicodeDecodeError /
    frombuffer ValueError / IntCastingNaNError)."""
    from mysql_tracker_spark.sources.wire import (
        CRC_LEN,
        HEADER_LEN,
        _decode_batch,
        encode_frames,
    )

    ev = pd.DataFrame(
        [
            {
                "file": "bin.000001", "pos": 100, "row_idx": 0, "xid": 7,
                "server_id": 1,
                "op": "INSERT", "schema_name": "chat",
                "table_name": "transcripts", "is_ddl": False,
                "ddl_sql": None,
                "before": None,
                "after": {"conv_id": "c1", "turn_idx": "0", "text": "hi"},
                "ts": pd.Timestamp("2026-01-01"),
            }
        ]
    )
    good = bytes(encode_frames(ev)["payload"].iloc[0])
    flipped = bytearray(good)
    flipped[HEADER_LEN + 3] ^= 0xFF  # invalid UTF-8 mid-body
    truncated = good[: HEADER_LEN + CRC_LEN - 2]
    garbage = good[:HEADER_LEN] + "not|the|wire|format".encode() + good[-CRC_LEN:]
    pdf = pd.DataFrame(
        {
            "file": ["bin.000001"] * 4,
            "pos": [100, 200, 300, 400],
            "payload": [good, bytes(flipped), truncated, garbage],
        }
    )
    out = _decode_batch(pdf)
    ok = out[out["crc_ok"]]
    assert len(ok) == 1 and ok.iloc[0]["pos"] == 100
    # truncated frame dropped entirely; corrupt ones kept un-ok
    assert set(out["pos"]) == {100, 200, 400}


def test_row_image_frac_meta_and_all_fractional_decimal_roundtrip():
    """Encoder/decoder symmetry for fractional-seconds meta and
    DECIMAL(p,p) (regressions: phantom frac bytes shifted every later
    column; DECIMAL(4,4) was unencodable)."""
    from decimal import Decimal

    from mysql_tracker_spark.sources.row_image import (
        ColumnSpec,
        _decode_one,
        encode_row_image,
    )

    specs = [
        ColumnSpec("t", "timestamp2", meta=3),
        ColumnSpec("d", "decimal", precision=4, scale=4),
        ColumnSpec("x", "int", byte_len=4),
    ]
    img = encode_row_image(
        {"t": 1700000000, "d": Decimal("0.5000"), "x": -42}, specs
    )
    vals = _decode_one(img, specs)
    assert vals[1] == "0.5000" and vals[2] == "-42"


def test_conv_fingerprint_distinguishes_null_fields(spark):
    """(role=NULL, text='hi') and (role='hi', text=NULL) must hash
    differently (regression: concat_ws silently skipped NULLs and
    dedup collapsed distinct conversations)."""
    from mysql_tracker_spark.functions.conversations import conv_fingerprint

    df = spark.createDataFrame(
        [("A", 0, None, "hi"), ("B", 0, "hi", None)],
        T.StructType(
            [
                T.StructField("conv_id", T.StringType()),
                T.StructField("turn_idx", T.IntegerType()),
                T.StructField("role", T.StringType()),
                T.StructField("text", T.StringType()),
            ]
        ),
    )
    fps = {r["conv_id"]: r["fingerprint"] for r in conv_fingerprint(df).collect()}
    assert fps["A"] != fps["B"]


def test_duplicate_spans_merges_abutting_windows(spark):
    """Duplicated windows covering contiguous tokens merge into ONE
    maximal span even when they abut without overlapping."""
    from mysql_tracker_spark.functions.text import (
        duplicate_span_stats,
        duplicate_spans,
    )

    docs = spark.createDataFrame(
        [("d0", "a b c d"), ("d1", "a b"), ("d2", "c d")],
        ["doc_id", "text"],
    )
    spans = duplicate_spans(docs, n=2).filter("doc_id = 'd0'").collect()
    assert [(r.span_start, r.span_end) for r in spans] == [(1, 4)]
    stats = (
        duplicate_span_stats(docs, n=2).filter("doc_id = 'd0'").collect()[0]
    )
    assert stats["n_spans"] == 1 and stats["dup_tokens"] == 4


def test_view_losing_commit_never_destroys_winner(spark, tmp_path):
    """Two racing syncs of the SAME table version: the loser must
    remove only ITS OWN data dir (regression: a shared final dir name
    let the loser rmtree the winner's committed data, leaving the meta
    pointing at nothing)."""
    import os

    from mysql_tracker_spark.functions.conversations import conv_signatures
    from mysql_tracker_spark.lakestore import LakeTable
    from mysql_tracker_spark.views import MaterializedView

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    t = LakeTable.create(
        str(tmp_path / "tbl"), schema, ["conv_id", "turn_idx"], "conv_id",
        n_buckets=2,
    )
    t.overwrite(
        spark.createDataFrame([("a", 0, "user", "hello world")], schema)
    )
    view = MaterializedView(
        t, str(tmp_path / "view"), conv_signatures, refresh=lambda tb, pv, ch: conv_signatures(tb),
    )
    assert view.sync(spark) is True
    rows_before = view.read(spark).collect()
    # loser: a second sync attempt at the SAME version commits after
    # the winner — replay _commit directly with a fresh tmp dir
    cur = t.current_version()
    loser_name = f"data_v{cur:08d}-deadbeef"
    loser_tmp = os.path.join(view.view_dir, f"{loser_name}.tmp-999")
    os.makedirs(loser_tmp)
    assert view._commit(cur, loser_tmp, loser_name) is False
    # the loser's dir is gone; the WINNER's data is intact
    assert not os.path.exists(os.path.join(view.view_dir, loser_name))
    assert view.read(spark).collect() == rows_before


def test_bucketed_view_rebucket_fence(spark, tmp_path):
    """Changing n_buckets between syncs must trigger a full re-bootstrap
    (regression: old-scheme hardlink-carried buckets silently mixed
    with new-scheme recomputed buckets, duplicating keys)."""
    import json

    from mysql_tracker_spark.functions.conversations import conv_signatures
    from mysql_tracker_spark.lakestore import LakeTable
    from mysql_tracker_spark.views import BucketedMaterializedView

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    t = LakeTable.create(
        str(tmp_path / "tbl"), schema, ["conv_id", "turn_idx"], "conv_id",
        n_buckets=2,
    )
    rows = [(f"c{i}", 0, "user", f"text number {i}") for i in range(20)]
    t.overwrite(spark.createDataFrame(rows, schema))
    v4 = BucketedMaterializedView(
        t, str(tmp_path / "view"), conv_signatures,
        key_col="conv_id", n_buckets=4, view_key_col="conv_id",
    )
    v4.sync(spark)
    # table advances; a NEW process constructs the view with n_buckets=8
    ch = spark.createDataFrame(
        [("c0", 0, "user", "edited", False)],
        T.StructType(schema.fields + [T.StructField("__delete", T.BooleanType())]),
    )
    t.merge(spark, ch)
    v8 = BucketedMaterializedView(
        t, str(tmp_path / "view"), conv_signatures,
        key_col="conv_id", n_buckets=8, view_key_col="conv_id",
    )
    assert v8.sync(spark) is True
    got = v8.read(spark).toPandas().sort_values("conv_id").reset_index(drop=True)
    exp = (
        conv_signatures(t.read(spark)).toPandas()
        .sort_values("conv_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    # exactly one row per conversation — no duplicated keys
    assert got["conv_id"].is_unique
    # the rebucket is recorded in lineage
    lineage = [
        json.loads(line)
        for line in open(f"{v8.view_dir}/lineage.jsonl")
    ]
    assert lineage[-1]["mode"] == "rebucket"


def test_ddl_parser_keyword_and_trailing_semicolon():
    from pyspark.sql import types as T2

    from mysql_tracker_spark.ddl import parse_ddl, parse_ddl_clauses

    assert parse_ddl("ALTER TABLE t ADD KEY text (col)").kind == "OTHER"
    r = parse_ddl("ALTER TABLE t DROP COLUMN a;")
    assert r.kind == "DROP_COLUMN" and r.column == "a"
    multi = parse_ddl_clauses(
        "ALTER TABLE chat.t ADD COLUMN a INT, ADD COLUMN b BIGINT"
    )
    assert [(c.kind, c.column) for c in multi] == [
        ("ADD_COLUMN", "a"), ("ADD_COLUMN", "b"),
    ]
    assert multi[1].new_type == T2.LongType()


def test_apply_ddl_events_applies_every_clause(spark, tmp_path):
    from mysql_tracker_spark.ddl import apply_ddl_events
    from mysql_tracker_spark.lakestore import LakeTable

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
        ]
    )
    t = LakeTable.create(
        str(tmp_path / "t"), schema, ["conv_id", "turn_idx"], "conv_id",
        n_buckets=2,
    )
    n = apply_ddl_events(
        t, ["ALTER TABLE chat.t ADD COLUMN a INT, ADD COLUMN b BIGINT"], "chat"
    )
    names = [f.name for f in t.schema().fields]
    assert n == 2 and "a" in names and "b" in names


def test_eventlog_gc_orphans_before_first_commit(spark, tmp_path):
    import os

    from mysql_tracker_spark.eventlog import EventLogJob

    d = str(tmp_path / "log")
    log = EventLogJob(spark, str(tmp_path / "in"), d)
    os.makedirs(os.path.join(d, "data", "batch-debris"), exist_ok=True)
    with open(os.path.join(d, "data", "batch-debris", "x.parquet"), "w") as f:
        f.write("junk")
    # no snapshot committed yet — must not crash
    assert log.gc_orphans(min_age_s=0.0) >= 0


def test_jobconfig_load_rejects_unknown_fields(tmp_path):
    import json

    from mysql_tracker_spark.config import JobConfig

    p = tmp_path / "cfg.json"
    p.write_text(json.dumps({"input_dir": "/x", "table_path": "/y",
                             "filter_regexp": "typo"}))
    with pytest.raises(ValueError, match="filter_regexp"):
        JobConfig.load(str(p))


def test_catalog_registers_tags_with_dots(spark, tmp_path):
    from mysql_tracker_spark.catalog import register_table
    from mysql_tracker_spark.lakestore import LakeTable

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
        ]
    )
    t = LakeTable.create(
        str(tmp_path / "t"), schema, ["conv_id", "turn_idx"], "conv_id",
        n_buckets=2,
    )
    t.overwrite(spark.createDataFrame([("a", 0)], schema))
    t.tag("v1.0-release")
    created = register_table(spark, t, name="tagtest", include_tags=True)
    assert "tagtest__at_v1_0_release" in created
    assert spark.sql("select count(*) from tagtest__at_v1_0_release").collect()[0][0] == 1


def test_token_budget_sample_excludes_invalid_token_counts(spark):
    from mysql_tracker_spark.functions.sampling import token_budget_sample

    df = spark.createDataFrame(
        [("a", "en", 10), ("b", "en", None), ("c", "en", -5), ("d", "en", 20)],
        T.StructType(
            [
                T.StructField("doc_id", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("n_tokens", T.IntegerType()),
            ]
        ),
    )
    out = token_budget_sample(df, {"en": 1000}).toPandas()
    # NULL and negative token rows are invalid input, never kept free
    assert set(out["doc_id"]) == {"a", "d"}
    assert (out["running_tokens"] <= 1000).all()


def test_hash_uniform_null_key_deterministic(spark):
    from pyspark.sql import functions as F

    from mysql_tracker_spark.functions.sampling import (
        hash_uniform,
        mixture_sample,
    )

    df = spark.createDataFrame(
        [(None, "en"), ("x", "en")],
        T.StructType(
            [
                T.StructField("doc_id", T.StringType()),
                T.StructField("lang", T.StringType()),
            ]
        ),
    )
    us = df.select(hash_uniform(F.col("doc_id"), "s").alias("u")).collect()
    assert all(r["u"] is not None for r in us)
    # weight 1.0 keeps EVERY row, NULL key included
    kept = mixture_sample(df, {"en": 1.0}).count()
    assert kept == 2
