"""The benchmark's workloads: ``catchup`` and ``tail_mor``.

Each run: start a session, restore or create the target table, warm
the workload's own apply path and measure the apply; ``run.py`` then
gates the final table against the sequential oracle and runs the reads
in a phase of their own. Inputs and oracle digests are built once per
seed, the tail's base table once per checkout, under
``.perfbench_cache``.
"""

from __future__ import annotations

import os
import pickle
import shutil
import threading
import time

import harness as H

CATCHUP_BUCKETS = 64
N_CONV = 2000
WARM_EVENTS = 3_000  # per warm-up batch on the workload's apply path
READ_SCANS = 3  # timed full-table aggregates (after one untimed)
READ_POINTS = 6  # timed point reads (after one untimed)

# catchup: a wire backlog of CATCHUP_EV_PER_S * seconds events, replayed
# in CATCHUP_BATCHES batches into a fresh copy-on-write table. The
# events at REPLAY_AT (fractions of the stream) are replayed once more
# at its end, so the last batch overlaps the committed watermark.
CATCHUP_EV_PER_S = 3_500
CATCHUP_BATCHES = 2
REPLAY_AT = (0.30, 0.31)

# tail_mor: history (fixed seed) restored as the base table, then a
# seeded tail arriving open-loop, one wire file every TAIL_INTERVAL_S
HIST_SEED = 20_251
HIST_EVENTS = 60_000
TAIL_INTERVAL_S = 4.0
TAIL_EVENTS_PER_FILE = 4_000
TAIL_FILE_BASE = 1_000  # binlog file numbers after the history's
WARM_FILE_BASE = 3_000


def gen(n: int, seed: int, file_base: int = 0, **kw):
    from mysql_tracker_spark.sources.binlog_gen import GenConfig, gen_change_events

    return gen_change_events(
        GenConfig(n_events=n, n_conversations=N_CONV, seed=seed, file_base=file_base, **kw)
    )


def write_wire(events, out_dir: str, n_files: int, prefix: str) -> list[dict]:
    """Wire-frame parquet files ``<prefix>_NNNNN.parquet``, with each
    file's frame count and highest ``(file, pos)``."""
    import pyarrow.parquet as pq
    from mysql_tracker_spark.sources.wire import write_wire_batches

    out = []
    for i, p in enumerate(write_wire_batches(events, out_dir, n_batches=n_files)):
        name = f"{prefix}_{i:05d}.parquet"
        os.replace(p, os.path.join(out_dir, name))
        t = pq.read_table(os.path.join(out_dir, name), columns=["file", "pos"]).to_pandas()
        hi = t.sort_values(["file", "pos"]).iloc[-1]
        out.append({"name": name, "frames": len(t), "hi": [hi["file"], int(hi["pos"])]})
    return out


def new_job(spark, input_dir: str, table: str, mode: str, **kw):
    """Wire-source apply job with the program's defaults unless ``kw``
    overrides them (catchup creates its table with CATCHUP_BUCKETS)."""
    from mysql_tracker_spark.runner import CdcApplyJob

    return CdcApplyJob(spark, input_dir, table, source_format="wire", write_mode=mode, **kw)


def warm_up(spark, warm_dir: str, work: str, mode: str, base: str | None, **kw) -> float:
    """Restore the base table (or start empty), then apply the warm-up
    files, in order, through the workload's own apply path. Returns the
    wall (s)."""
    t0 = time.perf_counter()
    tbl = os.path.join(work, "warm")
    if base is not None:
        shutil.copytree(base, tbl)
    job = new_job(spark, warm_dir, tbl, mode, **kw)
    try:
        for i, group in enumerate(job.batch_files()):
            job.apply_batch(i, group)
    finally:
        job.close()
    wall = time.perf_counter() - t0
    shutil.rmtree(tbl, ignore_errors=True)
    H.log(f"warm-up {wall:.2f}s")
    return wall


def freshness_ms(spark, table_path: str, files: list[dict], due_ms: list[float]) -> list[float]:
    """Per input file: commit stamp of the first snapshot whose
    watermark covers the file's highest event, minus the file's due
    (scheduled arrival) stamp. Read from history after the run."""
    from mysql_tracker_spark.lakestore.table import LakeTable

    hist = LakeTable.load(table_path).history(spark).orderBy("version").collect()
    out = []
    for f, due in zip(files, due_ms):
        hi = tuple(f["hi"])
        ts = next(
            (
                h["ts_ms"] for h in hist
                if h["offset_file"] is not None and h["offset_pos"] is not None
                and (h["offset_file"], h["offset_pos"]) >= hi
            ),
            None,
        )
        if ts is None:
            raise RuntimeError(f"no snapshot covers {f['name']} {hi}")
        out.append(ts - due)
    return out


def read_phase(spark, table_path: str, expected: dict) -> tuple[dict, int, int]:
    """Closed-loop reads after the apply: full scans, then point reads
    of the oracle's seeded conversations. Each result is checked against
    the oracle, untimed. Returns the timed samples (ms) and the
    attempted/failed counts."""
    from pyspark.sql import functions as F

    from mysql_tracker_spark.lakestore.table import LakeTable

    table = LakeTable.load(table_path)
    attempted = failed = 0

    def scan():
        df = table.read(spark)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.count(c).alias(f"c_{c}") for c in df.columns],
            F.sum(F.length("text")).alias("text_len"),
            F.max("ts").alias("ts_max"),
            F.sum("score").alias("score_sum"),
        ).collect()[0]
        return (row["n"], row["text_len"], row["score_sum"]) == (
            expected["rows"], expected["text_len"], expected["score_sum"]
        )

    # scan walls still fall over the first few calls, so the first is
    # not timed, as for the point reads below
    scans = []
    for i in range(READ_SCANS + 1):
        t0 = time.perf_counter()
        ok = scan()
        if i:
            scans.append((time.perf_counter() - t0) * 1000.0)
        attempted += 1
        failed += not ok

    points, results = [], []
    for i, (k, want) in enumerate(expected["points"]):
        t0 = time.perf_counter()
        rows = table.read_for_keys(spark, [k]).collect()
        if i:
            points.append((time.perf_counter() - t0) * 1000.0)
        results.append((rows, want))
    for rows, want in results:
        attempted += 1
        failed += H.rows_digest(rows) != want
    return {"scan_ms": scans, "point_ms": points}, attempted, failed


# ------------------------------------------------------------------ inputs


def catchup_inputs(seed: int, seconds: int) -> str:
    n = CATCHUP_EV_PER_S * seconds

    def build(d):
        import pandas as pd

        # the generator's own replay range starts at a seeded position,
        # so it would overlap the committed watermark (which turns off
        # the last batch's prefetch) on some seeds and not on others;
        # this one always does, at the same place
        ev = gen(n, seed, dup_frac=0.0)
        lo, hi = (int(f * len(ev)) for f in REPLAY_AT)
        ev = pd.concat([ev, ev.iloc[lo:hi]], ignore_index=True)
        files = write_wire(ev, os.path.join(d, "backlog"), CATCHUP_BATCHES, "backlog")
        write_wire(gen(WARM_EVENTS, seed + 7919), os.path.join(d, "warm"), 1, "warm")
        meta = {"files": files, "oracle": H.oracle(ev, seed, READ_POINTS + 1)}
        H.write_json(os.path.join(d, "meta.json"), meta)

    return H.cached(f"catchup_s{seed}_n{n}_b{CATCHUP_BATCHES}_r{REPLAY_AT[0]}", build)


BASE_KEY = f"tailmor_base_h{HIST_SEED}_n{HIST_EVENTS}"


def start_inputs(name: str, seed: int, seconds: int):
    """Build the seed's inputs on a helper thread while the session
    starts; returns a future of the input directory. The tail's base
    table needs Spark, so until it is cached the tail's inputs are built
    after the session is up (returns None)."""
    from concurrent.futures import ThreadPoolExecutor

    base = os.path.join(H.CACHE, BASE_KEY)
    if name == "catchup":
        fn, fargs = catchup_inputs, (seed, seconds)
    elif os.path.exists(os.path.join(base, "_COMPLETE")):
        fn, fargs = tail_inputs, (seed, seconds, base)
    else:
        return None
    pool = ThreadPoolExecutor(max_workers=1)
    try:
        return pool.submit(fn, *fargs)
    finally:
        pool.shutdown(wait=False)


def tail_base(spark) -> str:
    """History table, built once per checkout by one copy-on-write
    batch, so the tail starts from base files only. The tail's deltas
    stay below the auto-compaction threshold (8), so the read phase sees
    one delta per tail file in every bucket; traced runs time one
    compaction after the reads."""

    def build(d):
        ev = gen(HIST_EVENTS, HIST_SEED)
        hist = os.path.join(d, "hist")
        (f,) = write_wire(ev, hist, 1, "hist")
        job = new_job(spark, hist, os.path.join(d, "table"), "cow")
        try:
            job.apply_batch(0, [os.path.join(hist, f["name"])])
        finally:
            job.close()
        with open(os.path.join(d, "events.pkl"), "wb") as f:
            pickle.dump(ev, f)

    return H.cached(BASE_KEY, build)


def tail_inputs(seed: int, seconds: int, base: str) -> str:
    n_files = max(3, int(seconds // TAIL_INTERVAL_S))

    def build(d):
        import pandas as pd

        ev = gen(n_files * TAIL_EVENTS_PER_FILE, seed, file_base=TAIL_FILE_BASE)
        files = write_wire(ev, os.path.join(d, "tail"), n_files, "tail")
        # two warm-up batches: tail batches are small, so the first few
        # are still dominated by warm-up (batch walls fall for several)
        warm = gen(2 * WARM_EVENTS, seed + 7919, file_base=WARM_FILE_BASE)
        write_wire(warm, os.path.join(d, "warm"), 2, "warm")
        with open(os.path.join(base, "events.pkl"), "rb") as f:
            hist = pickle.load(f)
        both = pd.concat([hist, ev], ignore_index=True)
        meta = {"files": files, "oracle": H.oracle(both, seed, READ_POINTS + 1)}
        H.write_json(os.path.join(d, "meta.json"), meta)

    return H.cached(f"tailmor_s{seed}_f{n_files}_e{TAIL_EVENTS_PER_FILE}_w2_p", build)


# --------------------------------------------------------------- workloads


def run_catchup(spark, seed: int, seconds: int, work: str, begin, pending) -> dict:
    d = pending.result() if pending else catchup_inputs(seed, seconds)
    meta = H.read_json(os.path.join(d, "meta.json"))
    H.log("inputs ready")
    warm_s = warm_up(
        spark, os.path.join(d, "warm"), work, "cow", None, n_buckets=CATCHUP_BUCKETS
    )

    tbl = os.path.join(work, "table")
    job = new_job(spark, os.path.join(d, "backlog"), tbl, "cow", n_buckets=CATCHUP_BUCKETS)
    begin()
    jobs0 = H.jobs_submitted(spark)
    due_ms = time.time() * 1000.0
    t0 = time.perf_counter()
    try:
        stats = job.run()
    finally:
        job.close()
    wall = time.perf_counter() - t0
    jobs = H.jobs_submitted(spark) - jobs0
    fresh = freshness_ms(spark, tbl, meta["files"], [due_ms] * len(meta["files"]))
    return {
        "table": tbl,
        "inputs": d,
        "meta": meta,
        "warm_s": warm_s,
        "stats": stats,
        "apply_s": wall,
        "spark_jobs": jobs,
        "freshness": fresh,
        "due_ms": {f["name"]: due_ms for f in meta["files"]},
        "late_ms": [0.0],
    }


def run_tail_mor(spark, seed: int, seconds: int, work: str, begin, pending) -> dict:
    from mysql_tracker_spark.streaming.stream_runner import CdcStreamJob

    base = tail_base(spark)
    d = pending.result() if pending else tail_inputs(seed, seconds, base)
    meta = H.read_json(os.path.join(d, "meta.json"))
    base_tbl = os.path.join(base, "table")
    H.log("inputs ready")
    warm_s = warm_up(spark, os.path.join(d, "warm"), work, "mor", base_tbl)

    tbl, inbox, stage = (os.path.join(work, n) for n in ("table", "inbox", "stage"))
    shutil.copytree(base_tbl, tbl)
    os.makedirs(inbox)
    # arrive() moves files out of the stage, so stage a copy of the cache
    shutil.copytree(os.path.join(d, "tail"), stage)

    sj = CdcStreamJob(
        spark, inbox, tbl, os.path.join(work, "checkpoint"),
        source_format="wire", write_mode="mor",
    )
    begin()
    q = sj.start(available_now=False)
    jobs0 = H.jobs_submitted(spark)
    start = time.time() + 1.0
    due = [start + i * TAIL_INTERVAL_S for i in range(len(meta["files"]))]
    late: list[float] = []

    def arrive():  # open loop: the schedule never waits for the job
        for f, t in zip(meta["files"], due):
            time.sleep(max(0.0, t - time.time()))
            os.replace(os.path.join(stage, f["name"]), os.path.join(inbox, f["name"]))
            late.append((time.time() - t) * 1000.0)

    gen_thread = threading.Thread(target=arrive, daemon=True)
    gen_thread.start()
    try:
        gen_thread.join()
        q.processAllAvailable()
    finally:
        q.stop()
        sj.job.close()
    jobs = H.jobs_submitted(spark) - jobs0
    cursor = sj.job.table.properties().get("input_file_end")
    if cursor != meta["files"][-1]["name"]:
        raise RuntimeError(f"tail stopped at {cursor!r}")
    due_ms = [t * 1000.0 for t in due]
    stats = sj.stats
    return {
        "table": tbl,
        "inputs": d,
        "meta": meta,
        "warm_s": warm_s,
        "stats": stats,
        "apply_s": sum(s.wall_ms for s in stats) / 1000.0,
        "spark_jobs": jobs,
        "freshness": freshness_ms(spark, tbl, meta["files"], due_ms),
        "due_ms": {f["name"]: t for f, t in zip(meta["files"], due_ms)},
        "late_ms": late,
    }


WORKLOADS = {"catchup": run_catchup, "tail_mor": run_tail_mor}
