"""MySQL control-event surface (round-4 VERDICT items 2+5): type
enumeration, body byte-decoders (fixture vectors), HEARTBEAT -> M4,
INCIDENT -> C5 policy, the wire GTID-set fence, and e2e convergence of
a control-event-laden MySQL wire stream through the full apply
(reference enumeration mysql/dbsync/LogEvent.java:115-188, decoder
dispatch LogDecoder.java:94-491)."""

import struct
import uuid as _uuid

import pandas as pd
import pytest

from mysql_tracker_spark.sources.binlog_gen import (
    SERVER_UUID,
    GenConfig,
    expected_final_state,
    gen_change_events,
)
from mysql_tracker_spark.sources.mysql_events import (
    FORMAT_DESCRIPTION_EVENT,
    GTID_LOG_EVENT,
    HEARTBEAT_LOG_EVENT,
    INCIDENT_EVENT,
    PREVIOUS_GTIDS_LOG_EVENT,
    ROTATE_EVENT,
    ROWS_QUERY_LOG_EVENT,
    STOP_EVENT,
    decode_format_description_body,
    decode_gtid_body,
    decode_heartbeat_body,
    decode_incident_body,
    decode_previous_gtids_body,
    decode_rotate_body,
    decode_rows_query_body,
    decode_stop_body,
    encode_previous_gtids_body,
    mysql_control_flavor,
)
from mysql_tracker_spark.sources.wire import write_wire_batches

from .conftest import normalize


def test_control_type_constants_match_reference():
    # LogEvent.java:115-188
    assert STOP_EVENT == 3
    assert ROTATE_EVENT == 4
    assert FORMAT_DESCRIPTION_EVENT == 15
    assert INCIDENT_EVENT == 26
    assert HEARTBEAT_LOG_EVENT == 27
    assert ROWS_QUERY_LOG_EVENT == 29
    assert GTID_LOG_EVENT == 33
    assert PREVIOUS_GTIDS_LOG_EVENT == 35
    # the MariaDB classifier covers the full MySQL range too
    from mysql_tracker_spark.sources.mariadb_events import classify_event_type

    for t in (3, 4, 15, 26, 27, 29, 33, 35):
        assert classify_event_type(t) == "mysql"


def test_rotate_and_format_description_vectors():
    r = decode_rotate_body(struct.pack("<Q", 4) + b"mysql-bin.000043")
    assert r == {"position": 4, "next_file": "mysql-bin.000043"}
    with pytest.raises(ValueError):
        decode_rotate_body(b"\x00" * 5)

    body = struct.pack("<H", 4)
    body += b"5.7.30-log".ljust(50, b"\x00")
    body += struct.pack("<I", 1700000000)
    body += bytes([19])  # common header len
    body += bytes([56, 13, 0, 8])  # a few post-header lens
    fd = decode_format_description_body(body)
    assert fd["binlog_version"] == 4
    assert fd["server_version"] == "5.7.30-log"
    assert fd["create_ts"] == 1700000000
    assert fd["common_header_len"] == 19
    assert fd["post_header_lens"] == [56, 13, 0, 8]
    with pytest.raises(ValueError):
        decode_format_description_body(body[:40])


def test_heartbeat_rows_query_incident_stop_vectors():
    assert decode_heartbeat_body(b"mysql-bin.000042") == "mysql-bin.000042"
    # length byte is advisory; the text runs to the end of the event
    assert (
        decode_rows_query_body(bytes([11]) + b"UPDATE t SET x=1")
        == "UPDATE t SET x=1"
    )
    assert decode_rows_query_body(b"") == ""
    inc = decode_incident_body(
        struct.pack("<H", 1) + bytes([4]) + b"lost"
    )
    assert inc == {"incident": 1, "message": "lost"}
    # unrecognized incident numbers -> INCIDENT_NONE (reference
    # is_valid() contract)
    assert decode_incident_body(struct.pack("<H", 9)) == {
        "incident": 0,
        "message": None,
    }
    with pytest.raises(ValueError):
        decode_incident_body(b"\x00")
    assert decode_stop_body(b"") == {}
    with pytest.raises(ValueError):
        decode_stop_body(b"x")


def test_gtid_and_previous_gtids_vectors():
    sid = _uuid.UUID(SERVER_UUID)
    body = bytes([1]) + sid.bytes + struct.pack("<Q", 777)
    g = decode_gtid_body(body)
    assert g["commit_flag"] is True
    assert g["gtid"] == f"{SERVER_UUID}:777"
    with pytest.raises(ValueError):
        decode_gtid_body(body[:20])

    # executed-set round trip, multi-sid + multi-interval + singleton
    other = "11111111-2222-3333-4444-555555555555"
    text = f"{SERVER_UUID}:1-100:105,{other}:7-9"
    assert decode_previous_gtids_body(encode_previous_gtids_body(text)) == text
    assert decode_previous_gtids_body(encode_previous_gtids_body("")) == ""
    with pytest.raises(ValueError):
        decode_previous_gtids_body(b"\x01")


def test_decoders_never_crash_on_garbage():
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=200, deadline=None)
    @given(garbage=st.binary(max_size=80))
    def never_crashes(garbage):
        for fn in (
            decode_rotate_body,
            decode_format_description_body,
            decode_heartbeat_body,
            decode_rows_query_body,
            decode_incident_body,
            decode_stop_body,
            decode_gtid_body,
            decode_previous_gtids_body,
        ):
            try:
                fn(garbage)
            except ValueError:
                pass

    never_crashes()


def test_mysql_flavor_preserves_dml_bytes():
    ev = gen_change_events(GenConfig(n_events=500, n_conversations=20, seed=3))
    fl = mysql_control_flavor(ev)
    dml_cols = ["file", "pos", "row_idx", "xid", "op", "before", "after"]
    a = (
        ev[ev["op"].isin(["INSERT", "UPDATE", "DELETE"])][dml_cols]
        .reset_index(drop=True)
    )
    b = (
        fl[fl["op"].isin(["INSERT", "UPDATE", "DELETE"])][dml_cols]
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_mysql_control_flavored_wire_stream_converges(spark, tmp_path):
    """e2e (VERDICT item 2 'done' shape): a control-event-laden MySQL
    stream — GTID instead of BEGIN, ROWS_QUERY before each txn,
    FORMAT_DESCRIPTION/PREVIOUS_GTIDS/ROTATE preamble, periodic
    HEARTBEATs, STOP tail, all with real header type bytes — applied
    through the wire path converges to the plain stream's sequential
    oracle, and the heartbeat surfaces in ApplyStats (M4)."""
    import pyarrow.parquet as pq

    from mysql_tracker_spark.runner import CdcApplyJob

    ev = gen_change_events(GenConfig(n_events=2000, n_conversations=60, seed=13))
    fl = mysql_control_flavor(ev, heartbeat_every=300)
    assert (fl["op"] == "BEGIN").sum() == 0
    assert (fl["op"] == "GTID_MYSQL").sum() > 0
    assert (fl["op"] == "ROWS_QUERY").sum() > 0
    assert (fl["op"] == "HEARTBEAT").sum() >= 6
    assert (fl["op"] == "STOP").sum() == 1
    in_dir = str(tmp_path / "in")
    write_wire_batches(fl, in_dir, n_batches=3)
    types = set()
    for p in sorted((tmp_path / "in").iterdir()):
        for pay in pq.read_table(p)["payload"].to_pylist():
            types.add(pay[4])
    assert {3, 4, 15, 27, 29, 33, 35} <= types

    tbl = str(tmp_path / "tbl")
    job = CdcApplyJob(spark, in_dir, tbl, n_buckets=8, source_format="wire")
    stats = job.run()
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    assert got.equals(exp), "control-laden replay != sequential oracle"
    # M4: the heartbeat header ts surfaced
    hbs = [s.heartbeat_ts for s in stats if s.heartbeat_ts is not None]
    assert hbs, "no batch surfaced a heartbeat_ts"


def test_incident_policy_fail_and_record(spark, tmp_path):
    """C5: an INCIDENT frame past the fence fails the batch under the
    default policy, is recorded (stats + lineage) under 'record', and a
    replay whose incident sits behind the watermark does not re-fail."""
    from mysql_tracker_spark.runner import CdcApplyJob, IncidentError

    ev = gen_change_events(GenConfig(n_events=1200, n_conversations=40, seed=17))
    fl = mysql_control_flavor(ev, heartbeat_every=10_000, incident_at=600)
    assert (fl["op"] == "INCIDENT").sum() == 1
    in_dir = str(tmp_path / "in")
    write_wire_batches(fl, in_dir, n_batches=2)

    with pytest.raises(IncidentError, match="possibly lost events"):
        CdcApplyJob(
            spark, in_dir, str(tmp_path / "t_fail"), n_buckets=8,
            source_format="wire",
        ).run()

    job = CdcApplyJob(
        spark, in_dir, str(tmp_path / "t_rec"), n_buckets=8,
        source_format="wire", incident_policy="record",
    )
    stats = job.run()
    recorded = [i for s in stats if s.incidents for i in s.incidents]
    assert len(recorded) == 1
    assert recorded[0][2] == "possibly lost events on master"
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    assert got.equals(exp), "record-policy apply != oracle"

    # replay with the DEFAULT fail policy: the incident is at or
    # before the committed watermark, so it must NOT re-fail
    replay = CdcApplyJob(
        spark, in_dir, str(tmp_path / "t_rec"), n_buckets=8,
        source_format="wire",
    )
    stats2 = replay.run()
    assert all(s.skipped for s in stats2)


def test_wire_gtid_set_fence_e2e(spark, tmp_path):
    """Item 5 'done' shape: a wire replay fenced on a MySQL executed
    GTID set converges to the oracle over the unfenced transaction
    suffix — parity with the typed path's after_gtid_set."""
    from mysql_tracker_spark.runner import CdcApplyJob

    ev = gen_change_events(GenConfig(n_events=1500, n_conversations=50, seed=23))
    fl = mysql_control_flavor(ev)
    in_dir = str(tmp_path / "in")
    write_wire_batches(fl, in_dir, n_batches=3)

    xids = sorted(ev["xid"].dropna().astype(int).unique())
    mid = xids[len(xids) // 2]
    job = CdcApplyJob(
        spark, in_dir, str(tmp_path / "t1"), n_buckets=8,
        source_format="wire", gtid_set=f"{SERVER_UUID}:1-{mid}",
    )
    job.run()
    keep = ev[(ev["xid"].isna()) | (ev["xid"].astype("Int64") > mid)]
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(keep))
    assert got.equals(exp), "wire gtid_set fence != oracle over suffix"

    # a set for a FOREIGN server uuid fences nothing
    job2 = CdcApplyJob(
        spark, in_dir, str(tmp_path / "t2"), n_buckets=8,
        source_format="wire",
        gtid_set="11111111-2222-3333-4444-555555555555:1-999999",
    )
    job2.run()
    got2 = normalize(job2.table.read(spark).toPandas())
    exp2 = normalize(expected_final_state(ev))
    assert got2.equals(exp2), "foreign-uuid set must fence nothing"


def test_wire_mariadb_gtid_list_fence_e2e(spark, tmp_path):
    """The wire GTID fence honors the MariaDB GTID_LIST form too: a
    MariaDB-flavored wire stream (GTID frames carry domain-server-seqno)
    fenced on gtid_list converges to the unfenced-suffix oracle."""
    from mysql_tracker_spark.runner import CdcApplyJob
    from mysql_tracker_spark.sources.mariadb_events import mariadb_flavor

    ev = gen_change_events(GenConfig(n_events=1200, n_conversations=40, seed=29))
    fl = mariadb_flavor(ev)
    in_dir = str(tmp_path / "in")
    write_wire_batches(fl, in_dir, n_batches=2)

    xids = sorted(ev["xid"].dropna().astype(int).unique())
    mid = xids[len(xids) // 2]
    job = CdcApplyJob(
        spark, in_dir, str(tmp_path / "t1"), n_buckets=8,
        source_format="wire", gtid_list=f"0-1-{mid}",
    )
    job.run()
    keep = ev[(ev["xid"].isna()) | (ev["xid"].astype("Int64") > mid)]
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(keep))
    assert got.equals(exp), "wire gtid_list fence != oracle over suffix"


def test_wire_gtid_fence_survives_restart_and_any_batch_split(spark, tmp_path):
    """The open-group carry is committed atomically with the watermark:
    a job killed after batch 1 and RESUMED BY A FRESH JOB OBJECT (no
    driver state) must re-read the carry from the table properties and
    keep fencing the spanning transaction's tail rows. Also: the fence
    result is invariant to how the stream is split into micro-batches."""
    from mysql_tracker_spark.runner import CdcApplyJob
    from mysql_tracker_spark.sources.mariadb_events import mariadb_flavor

    ev = gen_change_events(GenConfig(n_events=1200, n_conversations=40, seed=29))
    fl = mariadb_flavor(ev)
    xids = sorted(ev["xid"].dropna().astype(int).unique())
    mid = xids[len(xids) // 2]
    keep = ev[(ev["xid"].isna()) | (ev["xid"].astype("Int64") > mid)]
    exp = normalize(expected_final_state(keep))

    # (a) kill-after-batch-1 + fresh-job resume (seed 29 / 2 batches is
    # the known boundary-spanning case: a fenced txn's GTID frame is in
    # batch 1, its tail DML in batch 2)
    in_dir = str(tmp_path / "in")
    write_wire_batches(fl, in_dir, n_batches=2)
    tbl = str(tmp_path / "t_restart")
    job1 = CdcApplyJob(
        spark, in_dir, tbl, n_buckets=8,
        source_format="wire", gtid_list=f"0-1-{mid}",
    )
    job1.run(max_batches=1)
    assert job1.table.properties().get("gtid_fence_carry"), (
        "expected an open fenced group carried at the batch-1 boundary"
    )
    resumed = CdcApplyJob(
        spark, in_dir, tbl, n_buckets=8,
        source_format="wire", gtid_list=f"0-1-{mid}",
    )
    resumed.run()
    got = normalize(resumed.table.read(spark).toPandas())
    assert got.equals(exp), "carry lost across restart"

    # (b) split invariance: 1 batch (no boundary) and 4 batches (three
    # boundaries) converge to the same state
    for nb in (1, 4):
        d = str(tmp_path / f"in{nb}")
        write_wire_batches(fl, d, n_batches=nb)
        job = CdcApplyJob(
            spark, d, str(tmp_path / f"t{nb}"), n_buckets=8,
            source_format="wire", gtid_list=f"0-1-{mid}",
        )
        job.run()
        got = normalize(job.table.read(spark).toPandas())
        assert got.equals(exp), f"fence result differs at n_batches={nb}"


def test_statement_context_event_vectors():
    """INTVAR / RAND / USER_VAR / ANONYMOUS_GTID byte decoders
    (LogDecoder.java:240-290,425-432): typed vectors for every
    USER_VAR result type, reusing the engine's packed-BCD DECIMAL and
    charset decoders."""
    from decimal import Decimal

    from mysql_tracker_spark.sources.mysql_events import (
        UV_DECIMAL_RESULT,
        UV_INT_RESULT,
        UV_REAL_RESULT,
        UV_STRING_RESULT,
        decode_anonymous_gtid_body,
        decode_intvar_body,
        decode_rand_body,
        decode_user_var_body,
    )
    from mysql_tracker_spark.sources.row_image import encode_decimal

    iv = decode_intvar_body(bytes([2]) + struct.pack("<Q", 1234567))
    assert iv == {"type": 2, "type_name": "INSERT_ID", "value": 1234567}
    with pytest.raises(ValueError):
        decode_intvar_body(b"\x01")

    rd = decode_rand_body(struct.pack("<QQ", 11, 22))
    assert (rd["seed1"], rd["seed2"]) == (11, 22)

    def uv(name, is_null, vtype=None, charset=63, raw=b""):
        b = struct.pack("<I", len(name)) + name + bytes([is_null])
        if not is_null:
            b += bytes([vtype]) + struct.pack("<I", charset)
            b += struct.pack("<I", len(raw)) + raw
        return b

    assert decode_user_var_body(uv(b"x", 1))["value"] is None
    got = decode_user_var_body(
        uv(b"pi", 0, UV_REAL_RESULT, raw=struct.pack("<d", 3.5))
    )
    assert got["value"] == 3.5
    assert (
        decode_user_var_body(
            uv(b"n", 0, UV_INT_RESULT, raw=struct.pack("<q", -7))
        )["value"]
        == -7
    )
    dec_raw = bytes([14, 4]) + encode_decimal(Decimal("-1234567890.1234"), 14, 4)
    got_d = decode_user_var_body(uv(b"d", 0, UV_DECIMAL_RESULT, raw=dec_raw))
    assert got_d["value"] == Decimal("-1234567890.1234")
    got_s = decode_user_var_body(
        uv(b"s", 0, UV_STRING_RESULT, charset=33, raw="héllo".encode("utf-8"))
    )
    assert got_s["value"] == "héllo"
    with pytest.raises(ValueError):
        decode_user_var_body(uv(b"r", 0, 3, raw=b""))  # ROW_RESULT banned

    sid = _uuid.UUID(SERVER_UUID)
    ag = decode_anonymous_gtid_body(
        bytes([0]) + sid.bytes + struct.pack("<Q", 5)
    )
    assert ag["anonymous"] is True and ag["gno"] == 5

    # garbage-safety for the new decoders too
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=150, deadline=None)
    @given(garbage=st.binary(max_size=60))
    def never_crashes(garbage):
        for fn in (
            decode_intvar_body,
            decode_rand_body,
            decode_user_var_body,
            decode_anonymous_gtid_body,
        ):
            try:
                fn(garbage)
            except ValueError:
                pass

    never_crashes()


def test_wire_gtid_carry_not_poisoned_by_failed_batch(spark, tmp_path):
    """Review fix: a batch that FAILS after its fence consumed the
    carry (e.g. WAP audit abort) must not poison the in-memory carry
    cache — the retry re-reads the last COMMITTED carry and still
    fences the spanning transaction's tail rows."""
    from pyspark.sql import functions as F

    from mysql_tracker_spark import quality
    from mysql_tracker_spark.runner import CdcApplyJob
    from mysql_tracker_spark.sources.mariadb_events import mariadb_flavor

    ev = gen_change_events(GenConfig(n_events=1200, n_conversations=40, seed=29))
    fl = mariadb_flavor(ev)
    in_dir = str(tmp_path / "in")
    write_wire_batches(fl, in_dir, n_batches=2)
    xids = sorted(ev["xid"].dropna().astype(int).unique())
    mid = xids[len(xids) // 2]
    job = CdcApplyJob(
        spark, in_dir, str(tmp_path / "t"), n_buckets=8,
        source_format="wire", gtid_list=f"0-1-{mid}",
    )
    job.run(max_batches=1)
    committed = job.table.properties().get("gtid_fence_carry")
    assert committed  # the spanning fenced group is carried

    # make batch 1 fail AFTER the fence ran (staged-table audit abort)
    job.table_expectations = [
        quality.predicate("always_fail", F.lit(False), blocking=True)
    ]
    with pytest.raises(Exception, match="always_fail|expectation|audit"):
        job.run()
    assert str(job._gtid_fence_carry()) == committed, (
        "failed batch poisoned the in-memory carry cache"
    )

    job.table_expectations = []
    job.run()
    keep = ev[(ev["xid"].isna()) | (ev["xid"].astype("Int64") > mid)]
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(keep))
    assert got.equals(exp), "retry after failed batch broke the fence"


def test_flavor_injections_never_tear_frames():
    """Review fix: HEARTBEAT/INCIDENT injections snap to frame starts —
    rows sharing one (file,pos) stay contiguous in stream order for
    EVERY seed, so no batch cut can separate the halves of a multi-row
    event (seeds 7/9/10 reproduced tearing before the fix)."""
    ctl_ops = {
        "HEARTBEAT", "INCIDENT", "ROWS_QUERY", "FORMAT_DESC",
        "PREV_GTIDS", "ROTATE", "STOP",
    }
    for seed in (7, 9, 10, 13, 29):
        ev = gen_change_events(
            GenConfig(n_events=5000, n_conversations=100, seed=seed)
        )
        fl = mysql_control_flavor(ev, heartbeat_every=137, incident_at=777)
        fp = (fl["file"].astype(str) + ":" + fl["pos"].astype(str)).tolist()
        ops = fl["op"].tolist()
        # a control row strictly inside a same-(file,pos) run means a
        # multi-row event was torn into two frames at one offset
        # (the dup replay tail repeats offsets far apart — that is
        # legitimate and NOT a tear, so only adjacency matters)
        for i in range(1, len(fl) - 1):
            if ops[i] in ctl_ops:
                assert fp[i - 1] != fp[i + 1], (
                    f"seed {seed}: {ops[i]} injected inside frame {fp[i-1]}"
                )


def test_gtid_set_parser_contract():
    """parse_gtid_set: bare-uuid entries cover nothing (interval-less
    PREVIOUS_GTIDS SID), empty/garbage raise, and CdcApplyJob
    normalizes an empty executed set ('' — fresh-server preamble) to
    no-fence and validates the set at job build."""
    from mysql_tracker_spark.operators.parse import parse_gtid_set
    from mysql_tracker_spark.runner import CdcApplyJob

    u = SERVER_UUID
    assert parse_gtid_set(f"{u}:1-5:9") == {u: [(1, 5), (9, 9)]}
    assert parse_gtid_set(u) == {u: []}  # covers nothing, accepted
    for bad in ("", "  ", "garbage", f"{u}:1-5,notauuid", ":1-5"):
        with pytest.raises(ValueError):
            parse_gtid_set(bad)

    # empty set normalizes to None at the real constructor (the
    # constructor needs only plain args — no SparkSession touched)
    j = CdcApplyJob(None, "/tmp/x", "/tmp/y", gtid_set="")
    assert j.gtid_set is None and not j._gtid_text_inside(f"{u}:1")
    with pytest.raises(ValueError):
        CdcApplyJob(None, "/tmp/x", "/tmp/y", gtid_set="garbage")
    j2 = CdcApplyJob(None, "/tmp/x", "/tmp/y", gtid_set=f"{u}:1-3")
    assert [j2._gtid_text_inside(f"{u}:{n}") for n in (1, 3, 4)] == [True, True, False]
    assert not j2._gtid_text_inside(f"{SERVER_UUID[:-1]}0:2")  # other server
