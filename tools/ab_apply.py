"""Same-session interleaved A/B of the headline apply (regression
triage for the r02->r03 bench drift): variants share one SparkSession
and one pre-generated input, run alternating (controls for host
drift), min-of-reps per variant, per-phase breakdown printed.

Variants:
  packed      current default (packed-argmax LWW, null-flag pack)
  packed_nonull  packed WITHOUT the null-flag concat (pre-ADVICE form)
  maxby       repartition-by-key + max_by(struct) (round-1 default)

Also prints a pure-JVM control (spark.range -> groupBy -> max_by, no
Python, no engine code) per cycle to calibrate host speed.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mysql_tracker_spark.session import get_spark


def jvm_control(spark) -> float:
    t0 = time.time()
    df = spark.range(0, 200_000_000, 1, 32)
    (
        df.withColumn("k", F.pmod("id", F.lit(1_000_000)))
        .groupBy("k")
        .agg(F.max_by(F.col("id"), F.col("id")).alias("m"))
        .agg(F.sum("m"))
        .collect()
    )
    return time.time() - t0


def run_apply(spark, in_dir: str, tbl_dir: str):
    from mysql_tracker_spark.runner import CdcApplyJob

    shutil.rmtree(tbl_dir, ignore_errors=True)
    t0 = time.time()
    job = CdcApplyJob(
        spark, in_dir, tbl_dir, n_buckets=64,
        files_per_batch=8, source_format="wire",
    )
    stats = job.run()
    wall = time.time() - t0
    phases = [s.phase_ms for s in stats]
    return wall, sum(s.rows_in for s in stats), phases


def main() -> None:
    import mysql_tracker_spark.operators.dedup as DD
    from mysql_tracker_spark.operators.dedup import lww_latest

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_events = int(os.environ.get("BENCH_EVENTS", 8_000_000))
    reps = int(os.environ.get("AB_REPS", "2"))
    spark = get_spark(
        app_name="ab_apply", cores=cpus, shuffle_partitions=cpus,
        extra_conf={"spark.sql.files.maxPartitionBytes": "4m"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import importlib

    bench = importlib.import_module("bench")
    in_dir = bench.ensure_input(
        spark, n_events, os.environ.get("BENCH_CACHE_DIR", "/tmp/mts_bench_cache")
    )
    work = tempfile.mkdtemp(prefix="mts_ab_")

    packed_current = DD.lww_latest_packed

    def packed_nonull(df, key_cols, op_col="op", kv_col="after_kv"):
        ordk = F.concat(
            F.col("file"),
            F.lpad(F.col("pos").cast("string"), 12, "0"),
            F.lpad(F.col("row_idx").cast("string"), 6, "0"),
        )
        op_code = (
            F.when(F.col(op_col) == "INSERT", F.lit("I"))
            .when(F.col(op_col) == "UPDATE", F.lit("U"))
            .otherwise(F.lit("D"))
        )
        packed = F.concat(ordk, F.lit("\x01"), op_code, F.col(kv_col))
        agg = df.groupBy(*key_cols).agg(F.max(packed).alias("__w"))
        sep = F.locate("\x01", F.col("__w"))
        op_back = F.substring(F.col("__w"), sep + 1, 1)
        return agg.select(
            *key_cols,
            F.when(op_back == "I", F.lit("INSERT"))
            .when(op_back == "U", F.lit("UPDATE"))
            .otherwise(F.lit("DELETE"))
            .alias(op_col),
            F.col("__w").substr(sep + 2, F.length("__w")).alias(kv_col),
        )

    def maxby(df, key_cols, op_col="op", kv_col="after_kv"):
        d = df.repartition(*[F.col(c) for c in key_cols])
        return lww_latest(d, key_cols, [op_col, kv_col])

    variants = {"packed": packed_current, "packed_nonull": packed_nonull, "maxby": maxby}
    walls: dict[str, list[float]] = {k: [] for k in variants}
    controls: list[float] = []
    phases_by_variant: dict[str, list] = {k: [] for k in variants}

    # warm-up
    t0 = time.time()
    run_apply(spark, in_dir, os.path.join(work, "warm"))
    print(f"warm-up: {time.time()-t0:.1f}s", flush=True)

    for rep in range(reps):
        controls.append(jvm_control(spark))
        print(f"[cycle {rep}] jvm_control {controls[-1]:.1f}s", flush=True)
        for name, fn in variants.items():
            DD.lww_latest_packed = fn
            try:
                w, n, ph = run_apply(spark, in_dir, os.path.join(work, f"t_{name}_{rep}"))
            finally:
                DD.lww_latest_packed = packed_current
            walls[name].append(w)
            phases_by_variant[name].append(ph)
            print(f"[cycle {rep}] {name}: {w:.1f}s ({n} rows)", flush=True)

    out = {
        "events": n_events,
        "controls_s": [round(c, 1) for c in controls],
        "min_wall_s": {k: round(min(v), 2) for k, v in walls.items()},
        "all_walls_s": {k: [round(x, 1) for x in v] for k, v in walls.items()},
        "phases_min_run": {
            k: phases_by_variant[k][v.index(min(v))] for k, v in walls.items()
        },
    }
    print(json.dumps(out))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
