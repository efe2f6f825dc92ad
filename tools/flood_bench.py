"""Hot-key flood bench (north-star skew handling): one session, same
pre-generated zipf(3.0) input, interleaved variants —

  packed   forced packed-argmax (what a naive default would do)
  auto     the default: AUTO skew escalation to the salted kernel
  salted   forced escalation (AUTO_SALT_RATIO = 0): every batch after
           the first runs the salted kernel; the first runs packed,
           since escalation acts on the previous batch's ratio

Done-criterion: auto hits salted-class throughput with no option set;
digests identical across variants.
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
from tools.scaling_bench import table_digest


def run(spark, in_dir, tbl, salt_ratio=None):
    shutil.rmtree(tbl, ignore_errors=True)
    t0 = time.time()
    job = CdcApplyJob(
        spark, in_dir, tbl, n_buckets=64, files_per_batch=8,
        source_format="wire",
    )
    if salt_ratio is not None:
        job.AUTO_SALT_RATIO = salt_ratio
    stats = job.run()
    wall = time.time() - t0
    return wall, sum(s.rows_in for s in stats), [s.lww_variant for s in stats]


def main():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_events = int(os.environ.get("FLOOD_EVENTS", 8_000_000))
    reps = int(os.environ.get("FLOOD_REPS", "2"))
    spark = get_spark(
        app_name="flood", cores=cpus, shuffle_partitions=cpus,
        extra_conf={"spark.sql.files.maxPartitionBytes": "4m"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    cache = os.environ.get("BENCH_CACHE_DIR", "/tmp/mts_bench_cache")
    in_dir = os.path.join(cache, f"flood_v2_{n_events}_zipf30")
    if not os.path.exists(os.path.join(in_dir, "_COMPLETE")):
        shutil.rmtree(in_dir, ignore_errors=True)
        write_wire_distributed(
            spark, n_events, in_dir, n_chunks=32, base_seed=99,
            n_conversations=200, gen_kwargs={"zipf_a": 3.0},
        )
        open(os.path.join(in_dir, "_COMPLETE"), "w").write("ok")

    work = tempfile.mkdtemp(prefix="mts_flood_")
    t0 = time.time()
    run(spark, in_dir, os.path.join(work, "warm"))
    print(f"warm-up: {time.time()-t0:.1f}s", flush=True)

    # AUTO_SALT_RATIO per variant: inf never escalates, 0 always does
    variants = {"packed": float("inf"), "auto": None, "salted": 0.0}
    walls = {k: [] for k in variants}
    variants_seen = {}
    digests = {}
    for rep in range(reps):
        for name, ratio in variants.items():
            tbl = os.path.join(work, f"t_{name}")
            w, n, vs = run(spark, in_dir, tbl, salt_ratio=ratio)
            walls[name].append(w)
            variants_seen[name] = vs
            digests[name] = table_digest(tbl)
            print(f"[cycle {rep}] {name}: {w:.1f}s lww={vs}", flush=True)

    out = {
        "events": n_events,
        "min_wall_s": {k: round(min(v), 2) for k, v in walls.items()},
        "all_walls_s": {k: [round(x, 1) for x in v] for k, v in walls.items()},
        "lww_variants": variants_seen,
        "digests_identical": len(set(digests.values())) == 1,
        "digests": {k: list(v) for k, v in digests.items()},
    }
    print(json.dumps(out))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
