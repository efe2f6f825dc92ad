"""Deployment-shape smoke test (north_rule: "run via spark-submit
--py-files on a multi-executor cluster"): zip the package, launch
``scripts/submit_apply.py`` through REAL ``spark-submit`` with
``--py-files`` (so the driver imports the engine from the zip, exactly
as a cluster submit would), apply a synthetic binlog, and check the
final table against the sequential oracle — plus the --config branch
(JobConfig fields must survive unset CLI flags, ADVICE r02 #1) and the
--changes-from changelog emission."""

import json
import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_pkg(tmp_path) -> str:
    z = str(tmp_path / "mts.zip")
    pkg = os.path.join(REPO, "mysql_tracker_spark")
    with zipfile.ZipFile(z, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    zf.write(p, os.path.relpath(p, REPO))
    return z


def _spark_submit(args, cwd):
    """Run spark-submit from the active pyspark installation."""
    import pyspark

    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the import source
    env["PYSPARK_PYTHON"] = sys.executable
    return subprocess.run(
        [submit, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=4", *args],
        capture_output=True, text=True, timeout=420, cwd=cwd, env=env,
    )


def test_spark_submit_pyfiles_apply_and_changelog(tmp_path):
    from mysql_tracker_spark.sources.binlog_gen import (
        GenConfig,
        expected_final_state,
        gen_change_events,
        write_batches,
    )

    ev = gen_change_events(GenConfig(n_events=1500, n_conversations=80, seed=17))
    in_dir = str(tmp_path / "in")
    write_batches(ev, in_dir, n_batches=2)
    tbl = str(tmp_path / "tbl")

    # --config branch: source_format/buckets come from the JSON and
    # must NOT be clobbered by unset CLI defaults
    cfg_path = str(tmp_path / "job.json")
    with open(cfg_path, "w") as f:
        json.dump({"job_id": "cli-e2e", "source_format": "typed", "n_buckets": 8}, f)

    z = _zip_pkg(tmp_path)
    res = _spark_submit(
        ["--py-files", z, os.path.join(REPO, "scripts", "submit_apply.py"),
         "--input", in_dir, "--table", tbl, "--config", cfg_path,
         "--changes-from", "1"],
        cwd=str(tmp_path),  # NOT the repo: imports must come from the zip
    )
    assert res.returncode == 0, res.stderr[-4000:]
    lines = [json.loads(l) for l in res.stdout.splitlines() if l.startswith("{")]
    stats = [l for l in lines if "rows_in" in l]
    changes = [l for l in lines if "op" in l and "conv_id" in l]
    assert sum(s["rows_in"] for s in stats) == len(ev)
    # config honored: table bucketed per JSON, not per CLI default
    with open(os.path.join(tbl, "snapshots", sorted(os.listdir(os.path.join(tbl, "snapshots")))[-1])) as f:
        assert json.load(f)["n_buckets"] == 8
    # changelog from v1 (empty table) to HEAD == every live row as insert
    exp = expected_final_state(ev)
    assert len(changes) == len(exp)
    assert {c["op"] for c in changes} == {"insert"}
    got_keys = {(c["conv_id"], c["turn_idx"]) for c in changes}
    assert got_keys == {(r.conv_id, r.turn_idx) for r in exp.itertuples()}
    # final table equality via duckdb (no Spark needed here)
    import duckdb

    sys.path.insert(0, REPO)
    from mysql_tracker_spark.lakestore import LakeTable

    t = LakeTable.load(tbl)
    files = [os.path.join(tbl, p) for p in t.live_files()]
    flist = ", ".join(f"'{f}'" for f in files)
    got = (
        duckdb.connect()
        .execute(
            f"SELECT conv_id, turn_idx, text FROM read_parquet([{flist}], union_by_name=true) ORDER BY conv_id, turn_idx"
        )
        .df()
    )
    expdf = exp.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert got["text"].tolist() == expdf["text"].tolist()


def test_parse_expect_specs():
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from submit_apply import parse_expect

    e = parse_expect("not_null:text")
    assert (e.kind, e.cols, e.blocking) == ("not_null", ("text",), True)
    e = parse_expect("unique:conv_id+turn_idx")
    assert (e.kind, e.cols) == ("unique", ("conv_id", "turn_idx"))
    e = parse_expect("in_set:role:user|assistant")
    assert (e.kind, e.values) == ("in_set", ("user", "assistant"))
    e = parse_expect("range:score:0:")
    assert (e.kind, e.lo, e.hi) == ("range", 0.0, None)
    import pytest

    with pytest.raises(SystemExit):
        parse_expect("bogus:spec")


def test_spark_submit_expect_gate_blocks(tmp_path):
    """--expect gate through real spark-submit: an impossible range
    blocks the batch before publish (non-zero exit, empty table)."""
    from mysql_tracker_spark.sources.binlog_gen import (
        GenConfig,
        gen_change_events,
        write_batches,
    )

    ev = gen_change_events(GenConfig(n_events=600, n_conversations=40, seed=23))
    in_dir = str(tmp_path / "in")
    write_batches(ev, in_dir, n_batches=1)
    tbl = str(tmp_path / "tbl")
    z = _zip_pkg(tmp_path)
    r = _spark_submit(
        ["--py-files", z, os.path.join(REPO, "scripts", "submit_apply.py"),
         "--input", in_dir, "--table", tbl, "--buckets", "4",
         "--expect", "range:turn_idx::-1"],
        cwd=str(tmp_path),
    )
    assert r.returncode != 0
    assert "range_turn_idx" in (r.stderr + r.stdout)
    # schema-update snapshots from mid-stream DDL are metadata-only and
    # legitimately precede the gate; what must NOT exist is published
    # DATA or a moved watermark
    snaps = os.path.join(tbl, "snapshots")
    for f in os.listdir(snaps):
        if f.endswith(".json"):
            m = json.load(open(os.path.join(snaps, f)))
            assert "offset_file" not in m.get("properties", {})  # no watermark
            assert all(not v for v in m.get("buckets", {}).values())  # no data


def test_spark_submit_mor_apply_and_compact_maintenance(tmp_path):
    """--write-mode mor end-to-end through real spark-submit, then a
    second invocation as pure maintenance: --compact --max-batches 0
    folds the deltas (manifest op 'compact', no delta entries left)
    without applying anything, and the raw live files equal the oracle."""
    from mysql_tracker_spark.sources.binlog_gen import (
        GenConfig,
        expected_final_state,
        gen_change_events,
        write_batches,
    )

    ev = gen_change_events(GenConfig(n_events=1500, n_conversations=80, seed=19))
    in_dir = str(tmp_path / "in")
    write_batches(ev, in_dir, n_batches=3)
    tbl = str(tmp_path / "tbl")
    z = _zip_pkg(tmp_path)

    res = _spark_submit(
        ["--py-files", z, os.path.join(REPO, "scripts", "submit_apply.py"),
         "--input", in_dir, "--table", tbl, "--buckets", "8",
         "--write-mode", "mor", "--mor-compact-threshold", "16"],
        cwd=str(tmp_path),
    )
    assert res.returncode == 0, res.stderr[-4000:]
    snaps = os.path.join(tbl, "snapshots")
    with open(os.path.join(snaps, sorted(os.listdir(snaps))[-1])) as f:
        m = json.load(f)
    assert any(
        fe.get("delta") for fs in m["buckets"].values() for fe in fs
    ), "threshold 16 over 3 batches must leave deltas"

    res2 = _spark_submit(
        ["--py-files", z, os.path.join(REPO, "scripts", "submit_apply.py"),
         "--input", in_dir, "--table", tbl, "--compact", "--max-batches", "0"],
        cwd=str(tmp_path),
    )
    assert res2.returncode == 0, res2.stderr[-4000:]
    with open(os.path.join(snaps, sorted(os.listdir(snaps))[-1])) as f:
        m2 = json.load(f)
    assert m2["summary"]["operation"] == "compact"
    assert not any(
        fe.get("delta") for fs in m2["buckets"].values() for fe in fs
    )

    import duckdb

    sys.path.insert(0, REPO)
    from mysql_tracker_spark.lakestore import LakeTable

    t = LakeTable.load(tbl)
    files = [os.path.join(tbl, p) for p in t.live_files()]
    flist = ", ".join(f"'{f}'" for f in files)
    got = (
        duckdb.connect()
        .execute(
            f"SELECT text FROM read_parquet([{flist}], union_by_name=true) ORDER BY conv_id, turn_idx"
        )
        .df()
    )
    exp = expected_final_state(ev).sort_values(["conv_id", "turn_idx"])
    assert got["text"].tolist() == exp["text"].tolist()


def test_spark_submit_bootstrap_snapshot_catchup(spark, tmp_path):
    """--bootstrap-snapshot through real spark-submit: seed the table
    from a snapshot parquet dir + fence, then the SAME invocation
    catches up — the pre-fence batch is skipped and the final table
    equals the sequential oracle over all events."""
    from mysql_tracker_spark.runner import CdcApplyJob
    from mysql_tracker_spark.sources.binlog_gen import (
        GenConfig,
        expected_final_state,
        gen_change_events,
        write_batches,
    )

    ev = gen_change_events(GenConfig(n_events=1500, n_conversations=80, seed=29))
    in_dir = str(tmp_path / "in")
    write_batches(ev, in_dir, n_batches=3)

    # build the snapshot in-process: state + fence after batch 0
    seed_job = CdcApplyJob(spark, in_dir, str(tmp_path / "seed"), n_buckets=4)
    seed_job.run(max_batches=1)
    f0, p0, _ = seed_job.watermark()
    snap_dir = str(tmp_path / "snap")
    seed_job.table.read(spark).write.parquet(snap_dir)

    tbl = str(tmp_path / "tbl")
    z = _zip_pkg(tmp_path)
    res = _spark_submit(
        ["--py-files", z, os.path.join(REPO, "scripts", "submit_apply.py"),
         "--input", in_dir, "--table", tbl, "--buckets", "4",
         "--bootstrap-snapshot", snap_dir, f0, str(p0)],
        cwd=str(tmp_path),
    )
    assert res.returncode == 0, res.stderr[-4000:]
    assert '"bootstrap_version"' in (res.stdout + res.stderr)
    stats = [json.loads(l) for l in res.stdout.splitlines()
             if l.startswith("{") and "rows_in" in l]
    assert stats[0]["skipped"] is True  # fenced prefix
    assert not stats[1]["skipped"] and not stats[2]["skipped"]

    import duckdb

    sys.path.insert(0, REPO)
    from mysql_tracker_spark.lakestore import LakeTable

    t = LakeTable.load(tbl)
    files = [os.path.join(tbl, p) for p in t.live_files()]
    flist = ", ".join(f"'{f}'" for f in files)
    got = (
        duckdb.connect()
        .execute(
            f"SELECT text FROM read_parquet([{flist}], union_by_name=true) ORDER BY conv_id, turn_idx"
        )
        .df()
    )
    exp = expected_final_state(ev).sort_values(["conv_id", "turn_idx"])
    assert got["text"].tolist() == exp["text"].tolist()


def test_spark_submit_branch_apply_and_fast_forward(tmp_path):
    """--branch / --fast-forward through real spark-submit: batch 1
    lands on main, the rest applies onto a branch (main's head
    untouched), then a maintenance invocation publishes the branch and
    the live files equal the sequential oracle."""
    from mysql_tracker_spark.sources.binlog_gen import (
        GenConfig,
        expected_final_state,
        gen_change_events,
        write_batches,
    )

    ev = gen_change_events(GenConfig(n_events=1500, n_conversations=80, seed=23))
    in_dir = str(tmp_path / "in")
    write_batches(ev, in_dir, n_batches=3)
    tbl = str(tmp_path / "tbl")
    z = _zip_pkg(tmp_path)

    res = _spark_submit(
        ["--py-files", z, os.path.join(REPO, "scripts", "submit_apply.py"),
         "--input", in_dir, "--table", tbl, "--buckets", "8",
         "--max-batches", "1"],
        cwd=str(tmp_path),
    )
    assert res.returncode == 0, res.stderr[-4000:]
    snaps = os.path.join(tbl, "snapshots")
    head_before = sorted(
        f for f in os.listdir(snaps) if f.startswith("v")
    )[-1]

    res2 = _spark_submit(
        ["--py-files", z, os.path.join(REPO, "scripts", "submit_apply.py"),
         "--input", in_dir, "--table", tbl, "--buckets", "8",
         "--branch", "staging"],
        cwd=str(tmp_path),
    )
    assert res2.returncode == 0, res2.stderr[-4000:]
    # main head untouched; branch chain exists
    assert sorted(
        f for f in os.listdir(snaps) if f.startswith("v")
    )[-1] == head_before
    assert os.path.isdir(os.path.join(snaps, "branches", "staging"))

    res3 = _spark_submit(
        ["--py-files", z, os.path.join(REPO, "scripts", "submit_apply.py"),
         "--input", in_dir, "--table", tbl,
         "--fast-forward", "staging", "--max-batches", "0"],
        cwd=str(tmp_path),
    )
    assert res3.returncode == 0, res3.stderr[-4000:]
    with open(os.path.join(snaps, sorted(
        f for f in os.listdir(snaps) if f.startswith("v")
    )[-1])) as f:
        m = json.load(f)
    assert m["summary"]["operation"] == "fast-forward"
    assert not os.path.isdir(os.path.join(snaps, "branches", "staging"))

    import duckdb

    sys.path.insert(0, REPO)
    from mysql_tracker_spark.lakestore import LakeTable

    t = LakeTable.load(tbl)
    files = [os.path.join(tbl, p) for p in t.live_files()]
    flist = ", ".join(f"'{f}'" for f in files)
    got = (
        duckdb.connect()
        .execute(
            f"SELECT text FROM read_parquet([{flist}], union_by_name=true) ORDER BY conv_id, turn_idx"
        )
        .df()
    )
    exp = expected_final_state(ev).sort_values(["conv_id", "turn_idx"])
    assert got["text"].tolist() == exp["text"].tolist()


def test_spark_submit_gtid_set_fence_and_incident_record(tmp_path):
    """Round-5 CLI surface: a wire apply through REAL spark-submit with
    --gtid-set (executed-set fence) and --incident-policy record over a
    control-event-laden MySQL stream (GTID groups, heartbeats, one
    INCIDENT): fenced transactions never land, the incident is
    recorded not fatal, and the final table equals the suffix oracle."""
    _submit_gtid_fence_with_incident(tmp_path, seed=47, streaming=False)


def test_spark_submit_streaming_gtid_set_fence_carries_across_batches(tmp_path):
    """The same CLI surface through --streaming, with the fence on the
    transaction that straddles the batch cut: the streaming front-end
    must build its job with the GTID set (not patch it in afterwards),
    so batch 0 commits that open fenced group as its carry and batch 1
    fences the group's tail rows."""
    from mysql_tracker_spark.lakestore import LakeTable

    tbl, fence = _submit_gtid_fence_with_incident(tmp_path, seed=41, streaming=True)
    t = LakeTable.load(tbl)
    first = next(
        h["version"]
        for h in t.watermark_history()
        if t.properties(h["version"]).get("batch_seq") == "0"
    )
    assert t.properties(first).get("gtid_fence_carry") == str(fence)


def _submit_gtid_fence_with_incident(tmp_path, seed: int, streaming: bool):
    """Apply a 2-batch MySQL-flavored wire stream through spark-submit
    under --gtid-set and --incident-policy record, and check the result
    against the suffix oracle. The fence is the median transaction,
    or under ``streaming`` the one whose rows straddle the batch cut.
    Returns the table path and the fence's last transaction."""
    import pyarrow.parquet as pq

    from mysql_tracker_spark.sources.binlog_gen import (
        SERVER_UUID,
        GenConfig,
        expected_final_state,
        gen_change_events,
    )
    from mysql_tracker_spark.sources.mysql_events import mysql_control_flavor
    from mysql_tracker_spark.sources.wire import write_wire_batches

    ev = gen_change_events(GenConfig(n_events=1200, n_conversations=50, seed=seed))
    fl = mysql_control_flavor(ev, heartbeat_every=400, incident_at=300)
    in_dir = str(tmp_path / "in")
    paths = write_wire_batches(fl, in_dir, n_batches=2)
    xids = sorted(ev["xid"].dropna().astype(int).unique())
    mid = xids[len(xids) // 2]
    if streaming:
        first = pq.read_table(paths[0], columns=["file", "pos"]).to_pandas()
        cut = max(zip(first["file"], first["pos"]))
        dml = ev[ev["op"].isin(["INSERT", "UPDATE", "DELETE"])].dropna(subset=["xid"])
        side = [(f, p) <= cut for f, p in zip(dml["file"], dml["pos"])]
        straddle = set(dml["xid"][side]) & set(dml["xid"][[not s for s in side]])
        assert len(straddle) == 1, straddle
        mid = int(straddle.pop())
    tbl = str(tmp_path / "tbl")

    z = _zip_pkg(tmp_path)
    res = _spark_submit(
        ["--py-files", z, os.path.join(REPO, "scripts", "submit_apply.py"),
         "--input", in_dir, "--table", tbl, "--format", "wire",
         "--buckets", "4",
         "--gtid-set", f"{SERVER_UUID}:1-{mid}",
         "--incident-policy", "record"]
        + (["--streaming", "--checkpoint", str(tmp_path / "ckpt")] if streaming else []),
        cwd=str(tmp_path),
    )
    assert res.returncode == 0, res.stderr[-4000:]

    import duckdb
    import pandas as pd

    sys.path.insert(0, REPO)
    from mysql_tracker_spark.lakestore import LakeTable

    t = LakeTable.load(tbl)
    files = [os.path.join(tbl, p) for p in t.live_files()]
    flist = ", ".join(f"'{f}'" for f in files)
    got = (
        duckdb.connect()
        .execute(
            f"SELECT conv_id, turn_idx, text FROM read_parquet([{flist}], "
            "union_by_name=true) ORDER BY conv_id, turn_idx"
        )
        .df()
    )
    keep = ev[(ev["xid"].isna()) | (ev["xid"].astype("Int64") > mid)]
    exp = (
        expected_final_state(keep)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert got["text"].tolist() == exp["text"].tolist()
    # the recorded incident survives into the lineage JSONL
    lineage = os.path.join(tbl, "lineage.jsonl")
    assert os.path.exists(lineage), "lineage JSONL missing"
    recs = [json.loads(l) for l in open(lineage)]
    assert any(r.get("incidents") for r in recs), "incident not recorded in lineage"
    return tbl, mid
