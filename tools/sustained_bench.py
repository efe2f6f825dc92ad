"""Sustained-volume apply bench (the 10^10-shape datapoint recorded in
BENCH/BASELINE.md): 64M generated wire events (~80.8M decoded change
rows after multi-row frame explode), 128 chunk files, 4 micro-batches
of 32, local[32], fresh table per rep, best of N.

The per-batch walls are the signal: they must stay FLAT as the table
grows 4x across the run — COW MERGE cost tracks the micro-batch
working set, not table size.

Usage: python tools/sustained_bench.py [n_events] [reps]
Input is cached under $BENCH_CACHE_DIR (default /tmp/mts_bench_cache)
keyed by size, like tools/scaling_bench.py.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mysql_tracker_spark.runner import CdcApplyJob
from mysql_tracker_spark.session import get_spark
from mysql_tracker_spark.sources.wire import write_wire_distributed

N_CHUNKS = 128
FILES_PER_BATCH = 32


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 64_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    cache_root = os.environ.get("BENCH_CACHE_DIR", "/tmp/mts_bench_cache")
    in_dir = os.path.join(cache_root, f"wire_v2_{n_events}_{N_CHUNKS}_42")
    spark = get_spark(cores=32)
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(os.path.join(in_dir, "_COMPLETE")):
        shutil.rmtree(in_dir, ignore_errors=True)
        t0 = time.time()
        write_wire_distributed(
            spark, n_events, in_dir, n_chunks=N_CHUNKS, base_seed=42
        )
        open(os.path.join(in_dir, "_COMPLETE"), "w").write("ok")
        print(f"gen {time.time() - t0:.0f}s", file=sys.stderr)
    work = tempfile.mkdtemp(prefix="mts_sustained_")

    def one_rep(tbl: str) -> dict:
        t0 = time.time()
        job = CdcApplyJob(
            spark, in_dir, tbl, n_buckets=64,
            files_per_batch=FILES_PER_BATCH, source_format="wire",
        )
        stats = job.run()
        wall = time.time() - t0
        ev = sum(s.rows_in for s in stats)
        return {
            "wall": round(wall, 1),
            "events": ev,
            "eps": round(ev / wall),
            "batch_walls": [round(s.wall_ms / 1000, 1) for s in stats],
        }

    recs = []
    for r in range(reps):
        tbl = os.path.join(work, f"tbl_{r}")
        recs.append(one_rep(tbl))
        print(json.dumps(recs[-1]), file=sys.stderr)
        shutil.rmtree(tbl, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    best = min(recs, key=lambda x: x["wall"])
    print(json.dumps({"best": best, "reps": recs}))


if __name__ == "__main__":
    main()
