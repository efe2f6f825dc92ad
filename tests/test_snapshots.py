"""The snapshot chain (``lakestore.snapshots``) that the table, the event
log and the views share: a crash mid-commit, retention with protected
versions, an absent chain. No SparkSession is started here."""

import os
import subprocess
import sys

import pytest
from pyspark.sql import types as T

from mysql_tracker_spark.eventlog import EventLogJob
from mysql_tracker_spark.lakestore import LakeTable, snapshots

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# commits the event log's next version in a process that dies at the
# first call of the named os function: "write" while the payload is
# being written, "link" after the temp write, before the version name
# is claimed
_CRASH_IN_COMMIT = """
import os, sys
from mysql_tracker_spark.eventlog import EventLogJob

job = EventLogJob(None, sys.argv[1], sys.argv[2])
m = job.manifest()
setattr(os, sys.argv[3], lambda *a: os._exit(3))
job._commit({**m, "version": m["version"] + 1})
"""


def _log_doc(v: int, offset_pos: int) -> dict:
    return {
        "version": v,
        "parent": v - 1 or None,
        "files": [f"batch-{v:05d}-0000beef"],
        "properties": {
            "offset_file": "b00001.parquet",
            "offset_pos": str(offset_pos),
            "next_seq": str(10 * v),
        },
        "summary": {"operation": "append", "ts_ms": 0},
    }


@pytest.mark.parametrize("crash_at", ["write", "link"])
def test_eventlog_commit_killed_midway_leaves_log_readable(tmp_path, crash_at):
    job = EventLogJob(None, str(tmp_path / "in"), str(tmp_path / "log"))
    job._commit(_log_doc(1, 100))

    proc = subprocess.run(
        [sys.executable, "-c", _CRASH_IN_COMMIT, job.input_dir, job.log_path, crash_at],
        cwd=REPO, capture_output=True, text=True,
    )
    assert proc.returncode == 3, proc.stderr
    stranded = [f for f in os.listdir(job.snap_dir) if f.startswith(".tmp-v00000002")]
    assert len(stranded) == 1

    # the previous version is still the readable head
    assert job.manifest()["version"] == 1
    assert job.watermark() == ("b00001.parquet", 100, 10)
    # the retried commit claims the version the crash never linked
    assert job._commit(_log_doc(2, 200)) == 2
    assert job.watermark() == ("b00001.parquet", 200, 20)
    # and the stranded temp is crash debris the log's gc reaps
    assert job.gc_orphans(min_age_s=0) == 1
    assert sorted(os.listdir(job.snap_dir)) == ["v00000001.json", "v00000002.json"]


def test_expire_spares_tagged_versions(tmp_path):
    schema = T.StructType([T.StructField("k", T.StringType())])
    t = LakeTable.create(str(tmp_path / "t"), schema, ["k"], "k", n_buckets=4)
    for i in range(4):
        t.set_properties({"i": str(i)})  # v2..v5
    t.tag("audit", 2)
    assert t.expire_snapshots(keep_last=2) == 2
    assert snapshots.versions(t.snap_dir) == [2, 4, 5]
    assert t.manifest(2)["properties"] == {"i": "0"}

    d = str(tmp_path / "chain")
    os.makedirs(d)
    for v in range(1, 6):
        snapshots.commit(d, {"version": v})
    dropped = snapshots.expire(d, keep_last=1, protected={2})
    assert [m["version"] for m in dropped] == [1, 3, 4]
    assert snapshots.versions(d) == [2, 5]


def test_missing_chain_has_no_versions(tmp_path):
    missing = str(tmp_path / "nope" / "snapshots")
    assert snapshots.versions(missing) == []
    assert snapshots.latest(missing) is None
    assert not LakeTable.exists(str(tmp_path / "nope"))
    job = EventLogJob(None, str(tmp_path / "in"), str(tmp_path / "nope"))
    assert job.watermark() == (None, None, 0)
    assert job.expire_snapshots(keep_last=1) == 0
    assert job.gc_orphans(min_age_s=0) == 0
