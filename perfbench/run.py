"""CDC benchmark: one command per workload.

    python3 perfbench/run.py --workload catchup --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout. Prints progress and one info line,
then, as the last line of stdout, ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics (from a traced run) with ``--trace 1``. Exits non-zero without
a result when the program under test is missing.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import harness as H


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["catchup", "tail_mor"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=12)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


# --------------------------------------------------------------- tracing

WRITE_SIDE = {
    "lakestore.merge", "lakestore.adopt_delta", "lakestore.compact",
    "lakestore.update_schema",
}


def install_tracer(tracer: H.Tracer) -> None:
    """Wrap each layer's public entry points (restored by unwrap_all)."""
    from mysql_tracker_spark import runner
    from mysql_tracker_spark.lakestore.table import LakeTable
    from mysql_tracker_spark.operators import dedup
    from mysql_tracker_spark.sources import wire
    from mysql_tracker_spark.streaming.stream_runner import CdcStreamJob

    tracer.wrap(
        runner.CdcApplyJob, "apply_batch", "runner.apply_batch",
        lambda a, kw: {"files": [os.path.basename(p) for p in a[2]]},
    )
    for m in ("merge", "adopt_delta", "compact", "update_schema",
              "buckets_for_keys", "read_for_keys", "read"):
        tracer.wrap(LakeTable, m, f"lakestore.{m}")
    tracer.wrap(wire, "decode_frames_kv", "sources.decode_frames_kv")
    for m in ("lww_latest", "lww_latest_packed", "lww_latest_salted"):
        tracer.wrap(dedup, m, f"operators.{m}")
    tracer.wrap(runner, "lww_latest", "operators.lww_latest")  # imported by name
    tracer.wrap(CdcStreamJob, "_drain_in_order", "streaming.drain")


def layer_probes(spark, wire_path: str, frames: int) -> tuple[dict, float]:
    """Standalone layer timings over one input file (median of 3 after
    one untimed), every plan ending in the no-op sink: the raw scan;
    scan + wire decode; the keyed row-event frame the wire apply hands
    to LWW (``CdcApplyJob._wire_lww`` for a batch with no key-moving
    update, the generator's default); and that frame through
    ``lww_latest_packed``, the apply's LWW kernel. LWW time is the last
    minus the keyed frame. Also returns scan-to-LWW minus the scan (ms):
    the decode and LWW work of one batch of the apply."""
    from pyspark.sql import functions as F

    from mysql_tracker_spark.operators.dedup import lww_latest_packed
    from mysql_tracker_spark.operators.filters import dml_for_table
    from mysql_tracker_spark.schema import LOG_ORDER, RAW_FRAME_SCHEMA
    from mysql_tracker_spark.sources.wire import decode_frames_kv, kv_to_map

    def timed(make):
        walls = []
        for i in range(4):
            t0 = time.perf_counter()
            make().write.format("noop").mode("overwrite").save()
            if i:
                walls.append((time.perf_counter() - t0) * 1000.0)
        return H.median(walls)

    raw = lambda: spark.read.schema(RAW_FRAME_SCHEMA).parquet(wire_path)  # noqa: E731

    def keyed():
        row_events = raw().filter(F.expr("substring(payload, 5, 1) IN (X'1E', X'1F', X'20')"))
        dml = dml_for_table(decode_frames_kv(row_events), "chat", "transcripts")
        key = kv_to_map("key_kv")
        return dml.select(
            F.element_at(key, "conv_id").alias("conv_id"),
            F.element_at(key, "turn_idx").cast("int").alias("turn_idx"),
            *LOG_ORDER, "op", "after_kv",
        )

    scan_ms = timed(raw)
    decode_ms = timed(lambda: decode_frames_kv(raw()))
    keyed_ms = timed(keyed)
    lww_ms = timed(lambda: lww_latest_packed(keyed(), ["conv_id", "turn_idx"]))
    kernel_s = max(decode_ms - scan_ms, 1.0) / 1000.0
    return {
        "sources.scan_ms": H.metric(scan_ms, "ms"),
        "sources.decode_ms": H.metric(decode_ms, "ms"),
        "sources.decode_frames_per_s": H.metric(frames / kernel_s, "1/s"),
        "operators.lww_ms": H.metric(max(lww_ms - keyed_ms, 0.0), "ms"),
    }, max(lww_ms - scan_ms, 0.0)


def layer_metrics(tracer: H.Tracer, res: dict, wall_s: float) -> tuple[dict, int]:
    """Per-layer metrics derived from the spans and the returned
    ApplyStats. Also returns the number of write-side lakestore spans
    that do not nest inside an apply_batch span (0 when the trace is
    well formed)."""
    from mysql_tracker_spark.lakestore.table import LakeTable

    spans = tracer.closed()
    by_id = {s["id"]: s for s in spans}
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    named = collections.defaultdict(list)
    for s in spans:
        named[s["name"]].append(s)

    applies = named["runner.apply_batch"]
    self_ms = []
    for a in applies:
        ls = [(c["t0"], c["t1"]) for c in kids[a["id"]] if c["name"].startswith("lakestore.")]
        self_ms.append(H.dur_ms(a) - H.union_ms(ls))

    def inside_apply(s):
        p = by_id.get(s["parent"])
        while p is not None and p["name"] != "runner.apply_batch":
            p = by_id.get(p["parent"])
        return p is not None and p["t0"] <= s["t0"] and s["t1"] <= p["t1"]

    unnested = sum(
        1 for s in spans if s["name"] in WRITE_SIDE and not inside_apply(s)
    )
    queue_wait = [
        a["epoch_ms"] - res["due_ms"][a["files"][0]]
        for a in applies if a["files"] and a["files"][0] in res["due_ms"]
    ]

    stats = res["stats"]
    rows_in = sum(s.rows_in for s in stats)
    applied = sum(s.rows_applied for s in stats)
    winners = sum(s.rows_winners or 0 for s in stats)
    written = sum(sum((s.bucket_rows or {}).values()) for s in stats)
    table = LakeTable.load(res["table"])
    ms = lambda name: [H.dur_ms(s) for s in named[name]]  # noqa: E731
    m = H.metric
    out = {
        "runner.apply_batch_ms_p50": m(H.median(ms("runner.apply_batch")), "ms"),
        "runner.self_ms": m(H.median(self_ms), "ms"),
        "runner.rows_in": m(rows_in, "count"),
        "runner.rows_applied": m(applied, "count"),
        "runner.rows_winners": m(winners, "count"),
        "runner.collapse_ratio": m(applied / winners if winners else 0.0, "ratio"),
        "runner.prefetch_hit_frac": m(
            sum(1 for s in stats if s.phase_ms.get("winners_prefetched")) / max(len(stats), 1),
            "fraction",
        ),
        "runner.spark_jobs_per_batch": m(res["spark_jobs"] / max(len(stats), 1), "count"),
        "lakestore.merge_ms_p50": m(H.median(ms("lakestore.merge")), "ms"),
        "lakestore.rows_written": m(written, "count"),
        "lakestore.write_amp": m(written / winners if winners else 0.0, "ratio"),
        "lakestore.adopt_ms_p50": m(H.median(ms("lakestore.adopt_delta")), "ms"),
        "lakestore.auto_compactions": m(sum(1 for s in stats if s.compacted_buckets), "count"),
        "lakestore.schema_commits": m(len(named["lakestore.update_schema"]), "count"),
        "lakestore.buckets_for_keys_ms_p50": m(H.median(ms("lakestore.buckets_for_keys")), "ms"),
        "lakestore.delta_files": m(sum(table.delta_counts().values()), "count"),
        "lakestore.live_files": m(len(table.live_files()), "count"),
        "streaming.queue_wait_ms_p50": m(H.median(queue_wait), "ms"),
        "streaming.generator_late_ms_max": m(max(res["late_ms"]), "ms"),
        "trace.overhead_frac": m(
            len(tracer.spans) * tracer.per_call_cost_s() / max(wall_s, 1e-9), "fraction"
        ),
        "trace.unnested_spans": m(unnested, "count"),
    }
    return out, unnested


# ------------------------------------------------------------------ main


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    H.wait_for_descendants()


def run(args) -> dict:
    import workloads as W
    from mysql_tracker_spark.lakestore.table import LakeTable

    work = os.path.join(H.WORK, f"{args.workload}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    attempted = failed = 0
    errors: list[str] = []
    tracer = H.Tracer() if args.trace else None
    began: list[float] = []

    control: list[float] = []

    def begin():  # start of the measured phase, after set-up
        control.append(H.control_ms(spark))
        began.append(time.perf_counter())
        if tracer is not None:
            install_tracer(tracer)

    pending = W.start_inputs(args.workload, args.seed, args.seconds)
    spark, session_s = H.start_session()
    try:
        H.log(f"session {session_s:.2f}s")
        res = W.WORKLOADS[args.workload](
            spark, args.seed, args.seconds, work, begin, pending
        )
        attempted += len(res["stats"])
        H.log(f"applied {len(res['stats'])} batches in {res['apply_s']:.2f}s")
        expected = res["meta"]["oracle"]
        # the gate reads the whole table before the reads are timed
        attempted += 1
        errors += H.gate(spark, res["table"], expected)
        failed += bool(errors)
        H.log(f"gate {errors or 'ok'}")
        reads, n_read, n_bad = W.read_phase(spark, res["table"], expected)
        attempted += n_read
        failed += n_bad
        wall_s = time.perf_counter() - began[0]
        H.log(f"reads {H.median(reads['scan_ms']):.0f}ms scan, {H.median(reads['point_ms']):.0f}ms point")
        if tracer is not None:
            tracer.unwrap_all()
            layers, unnested = layer_metrics(tracer, res, wall_s)
            attempted += 1  # the span-nesting check
            failed += bool(unnested)
            if unnested:
                errors.append(f"{unnested} lakestore spans outside apply_batch")
            first = res["meta"]["files"][0]
            sub = "backlog" if args.workload == "catchup" else "tail"
            probes, decode_lww_ms = layer_probes(
                spark, os.path.join(res["inputs"], sub, first["name"]), first["frames"]
            )
            layers.update(probes)
            layers["runner.decode_lww_share"] = H.metric(
                decode_lww_ms / layers["runner.apply_batch_ms_p50"]["value"], "fraction"
            )
            os.makedirs(H.OUT, exist_ok=True)
            tracer.dump(os.path.join(H.OUT, f"spans_{args.workload}_s{args.seed}.jsonl"))
            t0 = time.perf_counter()
            LakeTable.load(res["table"]).compact(spark)
            layers["lakestore.compact_ms"] = H.metric((time.perf_counter() - t0) * 1000.0, "ms")
            attempted += 1  # the gate again, on the compacted table
            compact_errs = H.gate(spark, res["table"], expected)
            failed += bool(compact_errs)
            errors += compact_errs
        control.append(H.control_ms(spark))
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    stats = res["stats"]
    events = sum(s.rows_in for s in stats)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": H.host_cores(),
        "driver_heap": H.DRIVER_MEM,
        "host.control_ms": control,
        "session_s": session_s,
        "warm_s": res["warm_s"],
        "batches": len(stats),
        "events": events,
        "apply_s": res["apply_s"],
        "freshness_ms": res["freshness"],
        **reads,
        "batch_wall_ms": [s.wall_ms for s in stats],
        "batch_prefetched": [bool(s.phase_ms.get("winners_prefetched")) for s in stats],
        "errors": errors,
    }
    print("info " + json.dumps(info), flush=True)
    if tracer is not None:
        metrics = layers
        metrics["host.control_ms"] = H.metric(H.median(control), "ms")
    else:
        metrics = {
            "apply_events_per_s": H.metric(events / res["apply_s"], "events/s"),
            "freshness_p50_ms": H.metric(H.median(res["freshness"]), "ms"),
            "read_point_p50_ms": H.metric(H.median(reads["point_ms"]), "ms"),
            "read_scan_p50_ms": H.metric(H.median(reads["scan_ms"]), "ms"),
            "setup_s": H.metric(session_s + res["warm_s"], "s"),
        }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still unwinds, so Spark is stopped in `run`
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, H.ROOT)
    try:
        import mysql_tracker_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: program not found in {H.ROOT}: {e}", file=sys.stderr)
        return 2
    try:
        out = run(args)
    except Exception as e:  # a raised error fails the run, visibly
        import traceback

        traceback.print_exc()
        out = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
