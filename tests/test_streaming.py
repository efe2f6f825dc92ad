"""Structured Streaming front-end: drain a directory of micro-batches
via foreachBatch and converge to the same state as batch replay."""

import pandas as pd
import pytest

from mysql_tracker_spark.sources.binlog_gen import (
    GenConfig,
    expected_final_state,
    gen_change_events,
    write_batches,
)
from mysql_tracker_spark.streaming import CdcStreamJob

from .conftest import normalize

CFG = GenConfig(n_events=3000, n_conversations=120, seed=21)
CMP = ["conv_id", "turn_idx", "role", "text", "tool", "score"]


def test_stream_drain_matches_oracle(spark, tmp_path):
    ev = gen_change_events(CFG)
    in_dir = str(tmp_path / "in")
    write_batches(ev, in_dir, n_batches=4)
    job = CdcStreamJob(
        spark,
        in_dir,
        str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=8,
        max_files_per_trigger=1,
    )
    stats = job.run_available()
    assert len(stats) >= 1 and sum(s.rows_in for s in stats) == len(ev)
    got = normalize(job.job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])


def test_stream_restart_resumes_and_converges(spark, tmp_path):
    ev = gen_change_events(CFG)
    in_dir = str(tmp_path / "in")
    all_paths = write_batches(ev, in_dir, n_batches=4)
    # stage 1: only the first two files exist
    import os
    import shutil

    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    hidden = []
    for p in all_paths[2:]:
        dst = str(tmp_path / os.path.basename(p))
        shutil.move(p, dst)
        hidden.append((dst, p))
    job = CdcStreamJob(
        spark, in_dir, str(tmp_path / "tbl"), checkpoint_dir=str(tmp_path / "ckpt"), n_buckets=8
    )
    job.run_available()
    # new files arrive; a fresh query (same checkpoint) drains the rest
    for dst, orig in hidden:
        shutil.move(dst, orig)
    job2 = CdcStreamJob(
        spark, in_dir, str(tmp_path / "tbl"), checkpoint_dir=str(tmp_path / "ckpt"), n_buckets=8
    )
    job2.run_available()
    got = normalize(job2.job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])


def test_stream_jsonl_format_matches_oracle(spark, tmp_path):
    """Streaming tail over JSON-lines micro-batches converges to the
    same final table."""
    from mysql_tracker_spark.sources.binlog_gen import write_jsonl_batches

    ev = gen_change_events(GenConfig(n_events=1500, n_conversations=60, seed=27))
    in_dir = str(tmp_path / "in")
    write_jsonl_batches(ev, in_dir, n_batches=3)
    job = CdcStreamJob(
        spark, in_dir, str(tmp_path / "tbl"), checkpoint_dir=str(tmp_path / "ckpt"),
        source_format="jsonl", n_buckets=4,
    )
    stats = job.run_available()
    assert sum(s.rows_in for s in stats) == len(ev)
    got = normalize(job.job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])


def test_stream_wire_format_matches_oracle(spark, tmp_path):
    """Streaming over raw BINARY wire frames: decode in foreachBatch,
    same final table as the oracle."""
    from mysql_tracker_spark.sources.wire import write_wire_batches

    ev = gen_change_events(CFG)
    in_dir = str(tmp_path / "in")
    write_wire_batches(ev, in_dir, n_batches=3)
    job = CdcStreamJob(
        spark,
        in_dir,
        str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_format="wire",
        n_buckets=8,
    )
    stats = job.run_available()
    assert sum(s.rows_in for s in stats) == len(ev)
    got = normalize(job.job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])


def test_stream_live_tail_with_midstream_reload(spark, tmp_path):
    """LIVE tailing (the one streaming mode availableNow drains don't
    cover): a processing-time-trigger query runs while the producer
    keeps writing new batch files into the directory, a heartbeat
    reload (close + prepare + resume from the same checkpoint) happens
    MID-STREAM, and the table still converges to the sequential oracle
    — the fenced idempotent sink makes the restart window safe."""
    import os
    import time

    from mysql_tracker_spark.streaming.stream_runner import Heartbeat

    ev = gen_change_events(GenConfig(n_events=3000, n_conversations=100, seed=29))
    staging = str(tmp_path / "staging")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    all_paths = sorted(write_batches(ev, staging, n_batches=6))

    def publish(n):  # atomic same-fs rename = file "arrives"
        for p in all_paths[:n]:
            dst = os.path.join(in_dir, os.path.basename(p))
            if not os.path.exists(dst):
                os.replace(p, dst)

    # expected final watermark = greatest (file, pos) in the stream
    wm_target = max(zip(ev["file"], ev["pos"]))

    publish(2)
    sj = CdcStreamJob(
        spark, in_dir, str(tmp_path / "tbl"), checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4, max_files_per_trigger=1,
    )
    hb = Heartbeat(sj, stall_after_s=600)
    q = sj.start(available_now=False)  # live processing-time trigger
    hb.attach(q)

    def wait_watermark(target, timeout=90.0):
        t0 = time.time()
        while time.time() - t0 < timeout:
            f, p, _ = sj.job.watermark()
            if f is not None and (f, p) >= target:
                return True
            time.sleep(0.5)
        return False

    # wait until the first two published files are applied
    applied = lambda: sum(  # noqa: E731
        s.rows_in for s in sj.stats if not getattr(s, "skipped", False)
    )
    t0 = time.time()
    while applied() == 0 and time.time() - t0 < 60:
        time.sleep(0.5)
    assert applied() > 0, "live query never applied the initial files"

    publish(4)  # two more arrive while the query is running
    t0 = time.time()
    while len([s for s in sj.stats if not s.skipped]) < 4 and time.time() - t0 < 60:
        time.sleep(0.5)

    # mid-stream heartbeat reload (reference close+prepare+resume)
    assert not hb.probe()["reload_needed"]
    q2 = hb.reload(available_now=False)
    assert q2.isActive

    publish(6)  # the rest arrives after the reload
    assert wait_watermark(wm_target), (
        f"watermark never reached {wm_target}; stats={[s.__dict__ for s in sj.stats]}"
    )
    q2.stop()

    got = normalize(sj.job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])
    assert sum(s.rows_in for s in sj.stats if not s.skipped) == len(ev)


def test_watermarked_windowed_agg_drops_late_events(spark, tmp_path):
    """Event-time windows + watermark (bounded lateness): a window is
    emitted once the watermark passes its end; an event arriving later
    than the allowed delay is DROPPED (it must not mutate an already
    finalized window); windows still open at drain end stay unemitted
    in state."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysql_tracker_spark.streaming.windows import run_windowed_counts_files

    H = 3_600_000_000  # one hour in micros
    base = 1_699_999_200_000_000  # hour-aligned (472222 * 3600 s)

    def write(path, rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "event_type", "value", "us"])
        pdf["ts"] = pd.to_datetime(pdf["us"], unit="us").astype("datetime64[us]")
        pq.write_table(
            pa.Table.from_pandas(pdf.drop(columns=["us"])), path
        )

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    # file mtimes force the micro-batch order (the file source lists
    # by modification time); the watermark in effect during batch N is
    # derived from batches < N, so the late row arrives only after its
    # window has provably been evicted+emitted
    write_mtime = [1000]

    def writem(name, rows):
        p = os.path.join(in_dir, name)
        write(p, rows)
        os.utime(p, (write_mtime[0], write_mtime[0]))
        write_mtime[0] += 1000

    # batch 0: hours 0 and 1
    writem("b000.parquet", [
        (1, "click", 1.0, base + 0),
        (2, "click", 2.0, base + H // 2),
        (3, "view", 5.0, base + H + 1),
    ])
    writem("b001.parquet", [(4, "click", 7.0, base + 3 * H)])  # wm -> 2h
    writem("b002.parquet", [(6, "view", 9.0, base + 5 * H)])   # wm -> 4h
    # batch 3: a WAY-late hour-0 event (0.25h << wm 4h; its window was
    # already finalized and emitted -> dropped, no duplicate emission)
    # + hour 6 keeping the stream moving
    writem("b003.parquet", [
        (5, "click", 100.0, base + H // 4),  # late, dropped
        (7, "view", 1.0, base + 6 * H),
    ])

    schema = "event_id long, event_type string, value double, ts timestamp"
    from pyspark.sql.types import _parse_datatype_string

    got = run_windowed_counts_files(
        spark, in_dir, _parse_datatype_string(schema),
        checkpoint_dir=str(tmp_path / "ck"), out_dir=str(tmp_path / "out"),
    )
    rows = {
        (int(r.win_start.timestamp() * 1_000_000 - base) // H, r.event_type): (r.n, r.total)
        for r in got.collect()
    }
    # hour-0 click window: counts events 1+2 ONLY (late event 5
    # dropped; exactly ONE emission — no duplicate/mutated window)
    assert rows[(0, "click")] == (2, 3.0), rows
    assert got.count() == len(rows)  # append emitted each window once
    assert rows[(1, "view")] == (1, 5.0)
    # hour-3 window finalized by the watermark advance
    assert rows[(3, "click")] == (1, 7.0)
    # hour-5/6 windows still open at drain end: NOT emitted
    assert set(rows) == {(0, "click"), (1, "view"), (3, "click")}


def test_stateful_sessionize_stream_across_batches(spark, tmp_path):
    """Custom stateful streaming operator (applyInPandasWithState):
    sessions spanning micro-batch boundaries close correctly because
    the open session rides in the per-key state store; emitted closed
    sessions equal the batch (pandas) oracle; a later drain with
    far-future sentinels flushes the remaining open sessions."""
    import os

    import numpy as np

    from mysql_tracker_spark.streaming.stateful import run_sessionize_files

    GAP_S = 600  # 10 min
    rng = np.random.default_rng(31)
    rows = []
    eid = 0
    base = 1_700_000_000_000_000  # epoch us
    for uid in range(12):
        t = base + int(rng.integers(0, 3_000_000_000))
        for _ in range(int(rng.integers(8, 40))):
            # mix of intra-session gaps (<10min) and session breaks
            t += int(rng.integers(1, 1200)) * 1_000_000
            rows.append((eid, uid, t))
            eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "us"]).sort_values(
        ["us", "event_id"]
    )

    # pandas oracle: full session list per user
    def oracle_sessions(frame):
        out = []
        for uid, g in frame.sort_values(["user_id", "us", "event_id"]).groupby("user_id"):
            start = last = None
            n = 0
            for us in g["us"]:
                if start is None:
                    start, last, n = us, us, 1
                elif us - last > GAP_S * 1_000_000:
                    out.append((uid, start, last, n))
                    start, last, n = us, us, 1
                else:
                    last, n = us, n + 1
            out.append((uid, start, last, n))  # final (open) session
        return out

    full = oracle_sessions(pdf)
    open_per_user = {u: (u, s, e, n) for (u, s, e, n) in full}  # last wins
    closed_expected = {t for t in full if t != open_per_user[t[0]]}

    # three time-ordered files (per-key monotone across batches)
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    import pyarrow as pa
    import pyarrow.parquet as pq

    # split row positions, not the frame: np.array_split on a DataFrame
    # goes through the deprecated DataFrame.swapaxes
    thirds = [pdf.iloc[ix] for ix in np.array_split(np.arange(len(pdf)), 3)]
    for i, part in enumerate(thirds):
        out = pd.DataFrame(
            {
                "event_id": part["event_id"].to_numpy(),
                "user_id": part["user_id"].to_numpy(),
                # micro (not nano) precision: Spark reads TIMESTAMP(MICROS)
                "ts": pd.to_datetime(part["us"].to_numpy(), unit="us").astype(
                    "datetime64[us]"
                ),
            }
        )
        pq.write_table(pa.Table.from_pandas(out), os.path.join(in_dir, f"b{i:03d}.parquet"))

    schema = "event_id long, user_id long, ts timestamp"
    from pyspark.sql.types import _parse_datatype_string

    got = run_sessionize_files(
        spark, in_dir, _parse_datatype_string(schema),
        checkpoint_dir=str(tmp_path / "ck"), out_dir=str(tmp_path / "out"), gap_s=GAP_S,
    )
    got_set = {tuple(r) for r in got.collect()}
    assert got_set == closed_expected and len(got_set) > 10

    # flush: one far-future sentinel per user closes every open session
    sent = pd.DataFrame(
        {
            "event_id": [10_000 + u for u in open_per_user],
            "user_id": list(open_per_user),
            "ts": pd.to_datetime(
                [base + 100_000_000_000_000] * len(open_per_user), unit="us"
            ).astype("datetime64[us]"),
        }
    )
    pq.write_table(pa.Table.from_pandas(sent), os.path.join(in_dir, "b999.parquet"))
    # same checkpoint + sink: the restarted drain resumes source
    # offsets AND the per-key operator state, then flushes
    got2 = run_sessionize_files(
        spark, in_dir, _parse_datatype_string(schema),
        checkpoint_dir=str(tmp_path / "ck"), out_dir=str(tmp_path / "out"), gap_s=GAP_S,
    )
    got2_set = {tuple(r) for r in got2.collect()}  # cumulative sink
    assert got2_set == set(full)  # every real session accounted for


def test_heartbeat_probe_and_reload(spark, tmp_path):
    """M4 heartbeat: healthy probe after a drain; source failure flips
    reload_needed; reload() resumes from the committed checkpoint and
    converges (exactly-once makes the reference's close+prepare safe)."""
    from mysql_tracker_spark.streaming.stream_runner import Heartbeat

    ev = gen_change_events(GenConfig(n_events=1200, n_conversations=60, seed=23))
    d = str(tmp_path / "in")
    write_batches(ev, d, n_batches=3)
    sj = CdcStreamJob(
        spark, d, str(tmp_path / "t"), str(tmp_path / "ck"), n_buckets=4
    )
    hb = Heartbeat(sj, stall_after_s=600)
    q = sj.start(available_now=True)
    hb.attach(q)
    q.awaitTermination()
    checks = hb.probe()
    assert checks["source_ok"] and checks["sink_ok"]
    assert not checks["reload_needed"] or not checks.get("query_alive", True)

    # source failure -> reload flag (the reference's mysql-ping failure)
    sj.input_dir = str(tmp_path / "gone")
    bad = hb.probe()
    assert not bad["source_ok"] and bad["reload_needed"]
    sj.input_dir = d

    # reference recovery: close + prepare + resume; table converges
    q2 = hb.reload(available_now=True)
    q2.awaitTermination()
    got = normalize(sj.job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    cmp_cols = ["conv_id", "turn_idx", "role", "text", "tool", "score"]
    pd.testing.assert_frame_equal(got[cmp_cols], exp[cmp_cols])


def test_stream_syncs_index_views_per_microbatch(spark, tmp_path):
    """The views hook: ANN and band-index materialized views attached to
    the stream trail the table by at most one micro-batch — after each
    drain both equal a full recompute of the current table, and a
    replayed (fenced-out) drain leaves their synced versions unchanged."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from mysql_tracker_spark.functions.conversations import (
        conv_band_index,
        conv_band_index_view,
    )
    from mysql_tracker_spark.functions.similarity import (
        ann_index_view,
        hashed_embedding,
        ivf_assign,
        train_ivf_centroids,
    )

    def emb(df):
        return df.select(
            "conv_id", "turn_idx", hashed_embedding(F.col("text"), dim=8).alias("embedding")
        )

    ev = gen_change_events(CFG)
    in_dir = str(tmp_path / "in")
    all_paths = write_batches(ev, in_dir, n_batches=4)
    hidden = []
    for p in all_paths[2:]:
        dst = str(tmp_path / os.path.basename(p))
        shutil.move(p, dst)
        hidden.append((dst, p))

    job = CdcStreamJob(
        spark, in_dir, str(tmp_path / "tbl"), checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=8,
    )
    # bootstrap the views' fixed parameters off the first staged files:
    # apply nothing yet — train centroids after the first drain instead
    job.run_available()
    t = job.job.table
    cents = train_ivf_centroids(emb(t.read(spark)), n_cells=4, seed=7)
    ann = ann_index_view(t, str(tmp_path / "ann"), cents, emb)
    band = conv_band_index_view(t, str(tmp_path / "band"))
    job.views = [ann, band]
    ann.sync(spark), band.sync(spark)

    # remaining files arrive; a fresh query (same checkpoint) drains them
    # and the foreachBatch epilogue keeps both views current
    for dst, orig in hidden:
        shutil.move(dst, orig)
    job2 = CdcStreamJob(
        spark, in_dir, str(tmp_path / "tbl"), checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=8, views=[ann, band],
    )
    job2.run_available()

    cur = t.read(spark)
    full_ann = {
        (r.conv_id, r.turn_idx): r.cell
        for r in ivf_assign(emb(cur), cents, id_cols=("conv_id", "turn_idx")).collect()
    }
    got_ann = {(r.conv_id, r.turn_idx): r.cell for r in ann.read(spark).collect()}
    assert got_ann == full_ann
    full_band = {(r.id, r.band, r.bh) for r in conv_band_index(cur).collect()}
    got_band = {(r.id, r.band, r.bh) for r in band.read(spark).collect()}
    assert got_band == full_band
    assert ann.synced_version() == t.current_version()

    # replay: a THIRD query with a fresh checkpoint re-reads every file;
    # all batches fence out, the table version is unchanged, and the
    # view sync is a version-check no-op
    v_before = ann.synced_version()
    job3 = CdcStreamJob(
        spark, in_dir, str(tmp_path / "tbl"), checkpoint_dir=str(tmp_path / "ckpt2"),
        n_buckets=8, views=[ann, band],
    )
    job3.run_available()
    assert ann.synced_version() == v_before == t.current_version()
    assert {(r.conv_id, r.turn_idx): r.cell for r in ann.read(spark).collect()} == full_ann


def test_stream_wire_gtid_fence_carry_across_microbatches(spark, tmp_path):
    """Streaming front-end + wire GTID fence: foreachBatch drives one
    micro-batch per input file (several boundaries), so the open-group
    carry threads through the streaming path too — the drained table
    equals the suffix oracle over unfenced transactions."""
    from mysql_tracker_spark.sources.mariadb_events import mariadb_flavor
    from mysql_tracker_spark.sources.wire import write_wire_batches

    ev = gen_change_events(GenConfig(n_events=1500, n_conversations=50, seed=29))
    fl = mariadb_flavor(ev)
    in_dir = str(tmp_path / "in")
    write_wire_batches(fl, in_dir, n_batches=4)
    xids = sorted(ev["xid"].dropna().astype(int).unique())
    mid = xids[len(xids) // 2]
    job = CdcStreamJob(
        spark,
        in_dir,
        str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_format="wire",
        n_buckets=8,
        gtid_list=f"0-1-{mid}",
    )
    job.run_available()
    keep = ev[(ev["xid"].isna()) | (ev["xid"].astype("Int64") > mid)]
    got = normalize(job.job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(keep))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])
