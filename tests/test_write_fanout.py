"""Task fan-out of a batch: every bucket-aligned stage runs one task per
core, not one per bucket or per file. Bucket-aligned writes run P tasks
(bucket b is written by task b mod P, P | n_buckets), scans pack their
files into at most one partition per core, reads of manifest-named
files list them on the driver, re-reads of just-written files run no
schema inference, and point reads place their keys on the driver. The
test session is local[8]."""

import os
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T
from pyspark.sql.readwriter import DataFrameReader

from mysql_tracker_spark.lakestore import LakeTable
from mysql_tracker_spark.lakestore.table import _write_tasks
from mysql_tracker_spark.runner import CdcApplyJob
from mysql_tracker_spark.sources.binlog_gen import (
    GenConfig,
    expected_final_state,
    gen_change_events,
    write_batches,
)
from mysql_tracker_spark.schema import RAW_FRAME_SCHEMA
from mysql_tracker_spark.sources.wire import decode_frames_kv, write_wire_batches

from .conftest import normalize

NB = 64
CORES = 8  # tests/conftest.py session: local[8]
SCHEMA = T.StructType(
    [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
)
CMP = ["conv_id", "turn_idx", "role", "text", "tool", "score"]


def _jobs(spark) -> int:
    """Spark jobs submitted so far in this session (job ids are dense)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


class _Tasks:
    """Runs its block under a fresh job group and reads the task counts
    of the stages those jobs ran. ``max`` is the largest of any stage;
    ``write`` the largest of a stage that reads a shuffle. A
    bucket-aligned write is such a stage (it reads the repartition by
    the bucket key); under AQE each shuffle map side runs as a job of
    its own, so a stage reading a shuffle is the newest stage of a job
    with more than one. A stage the status store holds no info for
    (a skipped stage, which runs no task, is the first it drops once
    the session has run many stages) counts for neither."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.group = f"fanout-{uuid.uuid4().hex[:8]}"

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        st = self.sc.statusTracker()
        jobs = [st.getJobInfo(j).stageIds for j in st.getJobIdsForGroup(self.group)]
        info = {s: st.getStageInfo(s) for ids in jobs for s in ids}
        n = {s: i.numTasks for s, i in info.items() if i is not None}
        assert n, "the block ran no Spark stage"
        self.max = max(n.values())
        self.write = max(
            (n.get(max(ids), 0) for ids in jobs if len(ids) > 1), default=0
        )
        return False


def _scan_tasks(spark, df) -> int:
    """Tasks of the one stage a no-op write of ``df`` runs."""
    with _Tasks(spark) as t:
        df.write.format("noop").mode("overwrite").save()
    return t.max


def _files_per_bucket(abs_dir: str) -> dict[int, int]:
    """Bucket id -> parquet file count of a ``__bucket=N`` dir tree."""
    return {
        int(d.split("=", 1)[1]): sum(
            f.endswith(".parquet") for f in os.listdir(os.path.join(abs_dir, d))
        )
        for d in os.listdir(abs_dir)
        if d.startswith("__bucket=")
    }


@pytest.mark.parametrize(
    "nb,parallelism,want",
    [(64, 4, 4), (64, 8, 8), (64, 48, 64), (7, 4, 7), (12, 5, 6), (2, 8, 2)],
)
def test_write_tasks_smallest_divisor_not_below_parallelism(nb, parallelism, want):
    assert _write_tasks(nb, parallelism) == want


def _changes(spark, lo: int, hi: int, delete_every: int = 0):
    ids = spark.range(lo, hi, numPartitions=2)
    return ids.select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        (F.col("id") * 10).alias("v"),
        (
            (F.col("id") % delete_every == 0) if delete_every else F.lit(False)
        ).alias("__delete"),
    )


def test_cow_merge_writes_one_file_per_bucket_with_core_sized_tasks(
    spark, tmp_path
):
    """A COW merge over all 64 buckets runs its write with no more
    tasks than the 8 cores and still writes exactly one file into every
    bucket dir; a full read of the result runs at most 8 scan tasks and
    equals the oracle."""
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, ["k"], "k", n_buckets=NB)
    t.merge(spark, _changes(spark, 0, 3000))
    with _Tasks(spark) as tasks:
        t.merge(spark, _changes(spark, 1000, 4000, delete_every=7))
    assert 0 < tasks.write <= CORES, tasks.write
    m = t.manifest()
    assert sorted(int(b) for b in m["buckets"]) == list(range(NB))
    assert all(len(fs) == 1 for fs in m["buckets"].values())
    assert _scan_tasks(spark, t.read(spark)) <= CORES
    want = {f"k{i}": i * 10 for i in range(4000) if i < 1000 or i % 7}
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == want


@pytest.mark.parametrize("mode,source", [("cow", "typed"), ("mor", "wire")])
def test_runner_batch_stages_one_file_per_bucket_with_core_sized_tasks(
    spark, tmp_path, mode, source
):
    """The runner's staged delta (and, under MoR, the adopted delta) of
    a 64-bucket table holds exactly one file per bucket dir, and no
    write of the batch runs more tasks than the 8 cores; a full read of
    the table runs at most 8 scan tasks and equals the sequential
    oracle."""
    ev = gen_change_events(GenConfig(n_events=3000, n_conversations=1000, seed=5))
    d = str(tmp_path / "in")
    (write_wire_batches if source == "wire" else write_batches)(ev, d, n_batches=1)
    job = CdcApplyJob(
        spark, d, str(tmp_path / "t"), n_buckets=NB, write_mode=mode,
        source_format=source,
    )
    staged = []
    stage_delta = job._stage_delta

    def spy(*a, **kw):
        out = stage_delta(*a, **kw)
        staged.append(_files_per_bucket(out[0]))
        return out

    job._stage_delta = spy
    with _Tasks(spark) as tasks:
        stats = [s for s in job.run() if not s.skipped]
    assert len(stats) == 1 and len(staged) == 1
    assert 0 < tasks.write <= CORES, tasks.write
    (per_bucket,) = staged
    assert len(per_bucket) == NB and set(per_bucket.values()) == {1}
    if mode == "mor":
        deltas = {
            b: [fe for fe in fs if fe.get("delta")]
            for b, fs in job.table.manifest()["buckets"].items()
        }
        assert len(deltas) == NB
        assert all(len(fs) == 1 for fs in deltas.values())
    assert _scan_tasks(spark, job.table.read(spark)) <= CORES
    got = normalize(job.table.read(spark).toPandas())
    exp = normalize(expected_final_state(ev))
    pd.testing.assert_frame_equal(got[CMP], exp[CMP])
    job.close()


def test_single_wire_file_decodes_in_one_scan_task(spark, tmp_path):
    """The scan-partition cap repacks small files but never cuts one
    finer: one multi-row-group wire file still decodes in ONE task (a
    conf that splits files, e.g. a zero open cost, fails this)."""
    ev = gen_change_events(GenConfig(n_events=40000, n_conversations=2000, seed=3))
    d = str(tmp_path / "wire")
    (path,) = write_wire_batches(ev, d, n_batches=1)
    raw = spark.read.schema(RAW_FRAME_SCHEMA).parquet(path)
    assert _scan_tasks(spark, decode_frames_kv(raw)) == 1


def test_reread_of_just_written_files_plans_without_a_job(
    spark, tmp_path, monkeypatch
):
    """Planning the runner's COW re-read of its staged delta and the
    bloom stamper's re-read of a merge's staged files submits no Spark
    job: no distributed listing of the 64 bucket dirs, no schema
    inference (both reads pass the schema they wrote)."""
    planned = []
    parquet = DataFrameReader.parquet

    def spy(reader, *paths, **kw):
        j = _jobs(spark)
        df = parquet(reader, *paths, **kw)
        planned.append((os.path.basename(paths[0]), _jobs(spark) - j))
        return df

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    ev = gen_change_events(GenConfig(n_events=2000, n_conversations=1000, seed=9))
    d = str(tmp_path / "in")
    write_batches(ev, d, n_batches=1)
    job = CdcApplyJob(
        spark, d, str(tmp_path / "r"), n_buckets=NB, bloom_cols=["text"]
    )
    job.run()
    job.close()
    rereads = {
        kind: [n for name, n in planned if name.startswith(kind)]
        for kind in ("_delta_", "stage-")
    }
    assert rereads == {"_delta_": [0], "stage-": [0]}, planned


def test_point_read_places_keys_without_a_spark_job(spark, tmp_path):
    """Planning ``read_for_keys`` on a 64-bucket table submits no Spark
    job: bucket ids come from the driver-side Murmur3 twin."""
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, ["k"], "k", n_buckets=NB)
    t.merge(spark, _changes(spark, 0, 3000))
    j0 = _jobs(spark)
    df = t.read_for_keys(spark, ["k7", "k2999", "absent"])
    assert _jobs(spark) == j0
    assert sorted(r["k"] for r in df.collect()) == ["k2999", "k7"]


@pytest.mark.parametrize(
    "dtype,keys",
    [
        (T.StringType(), ["", "a", "conv-1", "ünï", "x" * 37]),
        (T.IntegerType(), [0, 1, -1, 2**31 - 1, -(2**31), 12345]),
        (T.LongType(), [0, 1, -1, 2**63 - 1, -(2**63), 2**40 + 3]),
    ],
)
def test_buckets_for_keys_equals_engine_placement(spark, tmp_path, dtype, keys):
    """Driver-side placement equals ``pmod(F.hash(k), n)`` for string,
    int and long keys, under the current layout and, by ``version=``,
    under the layout before a rescale."""
    schema = T.StructType([T.StructField("k", dtype), T.StructField("v", T.LongType())])
    t = LakeTable.create(str(tmp_path / "t"), schema, ["k"], "k", n_buckets=NB)
    t.overwrite(spark.createDataFrame([(k, 1) for k in keys], schema))
    v_before = t.current_version()
    t.rescale_buckets(spark, 12)

    def engine(n):
        kdf = spark.createDataFrame([(k,) for k in keys], schema[:1])
        rows = kdf.select(F.pmod(F.hash("k"), F.lit(n)).alias("b")).collect()
        return sorted({r["b"] for r in rows})

    assert t.buckets_for_keys(spark, keys) == engine(12)
    assert t.buckets_for_keys(spark, keys, version=v_before) == engine(NB)
    # the historical layout is what a time-travel point read opens
    for k in keys:
        assert t.read_for_keys(spark, [k], version=v_before).count() == 1


def test_create_rejects_bucket_key_type_without_driver_twin(tmp_path):
    schema = T.StructType(
        [T.StructField("k", T.DoubleType()), T.StructField("v", T.LongType())]
    )
    with pytest.raises(ValueError, match="bucket key must be one of"):
        LakeTable.create(str(tmp_path / "t"), schema, ["k"], "k", n_buckets=4)
    assert not os.path.exists(tmp_path / "t")
    with pytest.raises(ValueError, match="'missing'"):
        LakeTable.create(str(tmp_path / "t"), schema, ["k"], "missing")
