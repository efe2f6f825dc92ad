"""JobConfig is the apply job's one options object: its defaults, its
option checks and its frozenness — all checked without a SparkSession."""

import dataclasses
import json
import os

import pytest

from mysql_tracker_spark.config import JobConfig
from mysql_tracker_spark.runner import CdcApplyJob

# each bad value with the text its ValueError names
BAD = {
    "write_mode": ({"write_mode": "append"}, "write_mode"),
    "mor_compact_threshold": ({"mor_compact_threshold": 0}, "mor_compact_threshold"),
    "auto_split_rows_per_bucket": (
        {"auto_split_rows_per_bucket": 0}, "auto_split_rows_per_bucket"
    ),
    "auto_split_migrate_per_batch": (
        {"auto_split_migrate_per_batch": 0}, "auto_split_migrate_per_batch"
    ),
    "incident_policy": ({"incident_policy": "ignore"}, "incident_policy"),
    "on_invalid_position": ({"on_invalid_position": "reset-earliest"}, "on_invalid_position"),
    "gtid_set": ({"gtid_set": "not-a-gtid-set"}, "malformed GTID set"),
    "filter_regex": ({"filter_regex": r"otherdb\..*"}, "excludes the target"),
    "allowlist": ({"allowlist": [["otherdb", "noise_tbl"]]}, "excludes the target"),
}


@pytest.mark.parametrize("bad,match", BAD.values(), ids=BAD.keys())
def test_bad_value_rejected_on_every_construction_path(tmp_path, bad, match):
    with pytest.raises(ValueError, match=match):
        JobConfig(**bad)
    p = tmp_path / "job.json"
    p.write_text(json.dumps(bad))
    with pytest.raises(ValueError, match=match):
        JobConfig.load(str(p))
    with pytest.raises(ValueError, match=match):
        dataclasses.replace(JobConfig(), **bad)


# the defaults the apply job had before JobConfig held them; the
# benchmark's table shape (32 buckets, no start-up position probe)
# depends on them
JOB_DEFAULTS = {
    "job_id": "mysql-tracker-spark",
    "input_dir": "",
    "source_format": "typed",
    "files_per_batch": 1,
    "table_path": "",
    "schema_name": "chat",
    "table_name": "transcripts",
    "n_buckets": 32,
    "filter_regex": None,
    "allowlist": [],
    "start_file": None,
    "start_pos": None,
    "on_invalid_position": None,
    "on_destructive_ddl": "raise",
    "quarantine_dir": None,
    "write_mode": "cow",
    "mor_compact_threshold": 8,
    "compact_sort_by": None,
    "compact_files_per_bucket": 1,
    "bloom_cols": [],
    "expectations": [],
    "table_expectations": [],
    "auto_split_rows_per_bucket": None,
    "auto_split_migrate_per_batch": 16,
    "branch": None,
    "expire_keep_last": None,
    "gtid_list": None,
    "gtid_set": None,
    "incident_policy": "fail",
    "transform": None,
}


def test_defaults_match_the_apply_job_defaults():
    cfg = JobConfig()
    assert [f.name for f in dataclasses.fields(JobConfig)] == list(JOB_DEFAULTS)
    for name, want in JOB_DEFAULTS.items():
        assert getattr(cfg, name) == want, name


def test_job_config_is_frozen_and_keywords_reach_it():
    job = CdcApplyJob(None, "/in", "/tbl", n_buckets=8, write_mode="mor")
    assert (job.cfg.input_dir, job.cfg.table_path) == ("/in", "/tbl")
    assert (job.cfg.n_buckets, job.cfg.write_mode) == (8, "mor")
    with pytest.raises(dataclasses.FrozenInstanceError):
        job.cfg.n_buckets = 4
    with pytest.raises(TypeError):
        CdcApplyJob(None, "/in", "/tbl", n_bucket=8)
    # an empty GTID set is no fence
    assert JobConfig(gtid_set="", gtid_list="").gtid_set is None


def test_refused_dump_names_the_field_and_writes_nothing(tmp_path):
    from mysql_tracker_spark import quality

    for cfg, field in (
        (JobConfig(transform=len), "transform"),
        (JobConfig(expectations=[quality.not_null("n", "text")]), "expectations"),
    ):
        p = tmp_path / "job.json"
        with pytest.raises(ValueError, match=field):
            cfg.dump(str(p))
        assert list(tmp_path.iterdir()) == []


def test_spec_config_dump_load_round_trips(tmp_path):
    cfg = JobConfig(
        n_buckets=8,
        write_mode="mor",
        expectations=[{"name": "t", "kind": "not_null", "col": "text"}],
        transform="os.path:basename",
        allowlist=[["chat", "transcripts"]],
    )
    p = str(tmp_path / "job.json")
    cfg.dump(p)
    assert JobConfig.load(p) == cfg
    assert os.listdir(tmp_path) == ["job.json"]
