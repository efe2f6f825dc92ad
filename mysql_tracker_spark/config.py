"""Job configuration (SURVEY.md §2.8 O3 — the reference's TrackerConf,
``tracker/utils/TrackerConf.java:89-231``: static defaults overridden
by a per-job JSON with filter lists and position overrides).

A JobConfig is a plain dataclass loadable from JSON; the fields mirror
the reference's knobs that still make sense on Spark (filter regex /
allow-list, start-position override, batch sizing) plus the engine's
own (buckets, source format).
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field


@dataclass
class JobConfig:
    # identity (reference: jobId)
    job_id: str = "mysql-tracker-spark"
    # source
    input_dir: str = ""
    source_format: str = "typed"  # typed | wire
    files_per_batch: int = 1  # flush-threshold analogue (B2 batchsize)
    # target
    table_path: str = ""
    schema_name: str = "chat"
    table_name: str = "transcripts"
    n_buckets: int = 64
    # filters (F1/F2; reference filterRegex + filterMap)
    filter_regex: str | None = None
    allowlist: list[list[str]] = field(default_factory=list)  # [schema, table] pairs
    # position override (C2; reference logfile/offset config keys):
    # used only when no checkpoint has been committed yet — the
    # reference's resolution order is checkpoint, then config position,
    # then live head (HandlerMagpieKafka.java:363-406). Events at or
    # before (start_file, start_pos) are fenced out.
    start_file: str | None = None
    start_pos: int | None = None
    # invalid-position policy (C5; reference deletes the checkpoint and
    # reloads from the live head on errno 1236)
    on_invalid_position: str = "fail"  # fail | reset_earliest
    # destructive-DDL policy (DROP/RENAME of the target table):
    # "raise" = operator decision (default), "ignore" = skip like the
    # reference (it only invalidates its meta cache)
    on_destructive_ddl: str = "raise"
    # hot-key handling: 0 = packed-argmax LWW (map-side combine),
    # N>0 = explicit two-phase salted LWW with N salts
    n_salts: int = 0
    # dead-letter audit (wire source only): when set, corrupt frames
    # are persisted here (reason + verbatim payload) instead of only
    # dropped; None keeps the reference's log-and-skip semantics
    quarantine_dir: str | None = None
    # sink write mode: "cow" (read-optimized copy-on-write, default) |
    # "mor" (write-optimized merge-on-read: batches commit as bucket
    # delta files, auto-compacted past mor_compact_threshold deltas
    # per bucket)
    write_mode: str = "cow"
    mor_compact_threshold: int = 8
    # range-clustered compaction (Iceberg rewrite-with-sort-order
    # analogue): when compact_sort_by is set, compaction folds each
    # bucket into ~compact_files_per_bucket files sorted on that
    # column, keeping stamped min/max bounds tight so time-travel /
    # serving range reads keep skipping files after compaction; a list
    # of two+ columns switches to Z-ORDER clustering (prune on any)
    compact_sort_by: str | list[str] | None = None
    compact_files_per_bucket: int = 1
    # bloom-indexed columns (per-file bloom bitmaps stamped at write,
    # Delta bloom-index analogue): exact-value point reads on these
    # columns prune files via table.read_where_in even where min/max
    # bounds cannot (high-cardinality values scattered across files);
    # merge-on-read deltas carry no bitmaps until compaction
    bloom_cols: list[str] = field(default_factory=list)
    # declarative data-quality gates (quality.py::from_spec dicts):
    # `expectations` run per batch on the UPSERT rows before the
    # merge; `table_expectations` run on the STAGED post-merge table
    # state through the write-audit-publish gate (lakestore WAP).
    # Kinds: not_null/in_set/range/unique/sql; {"blocking": true}
    # makes a violation fail the batch (table + watermark untouched)
    expectations: list[dict] = field(default_factory=list)
    table_expectations: list[dict] = field(default_factory=list)
    # autonomous layout growth: when mean live rows/bucket exceeds
    # this, the runner doubles the bucket count metadata-only
    # (lakestore split_buckets) and migrates auto_split_migrate_per_
    # batch shared buckets per subsequent batch; None disables
    auto_split_rows_per_bucket: int | None = None
    auto_split_migrate_per_batch: int = 16
    # GTID replication-state fences (see CdcApplyJob): MariaDB
    # GTID_LIST form "0-1-100,1-2-7" and MySQL executed-set form
    # "uuid:1-100[,uuid2:...]". Typed/jsonl sources fence on the gtid
    # column; the wire source fences via its GTID control frames.
    gtid_list: str | None = None
    gtid_set: str | None = None
    # C5 incident policy: what to do when an INCIDENT frame ("possibly
    # lost events on the master") is found past the fence
    incident_policy: str = "fail"  # fail | record
    # ingest transform hook (Debezium single-message-transform
    # analogue) as an importable dotted path "package.module:callable";
    # the callable takes and returns the batch change-set DataFrame
    # (key cols + typed payload + __delete, column set preserved) and
    # must be a deterministic row-wise expression — see
    # CdcApplyJob(transform=...)
    transform: str | None = None

    @classmethod
    def load(cls, path: str) -> "JobConfig":
        with open(path) as f:
            raw = json.load(f)
        unknown = sorted(k for k in raw if k not in cls.__dataclass_fields__)
        if unknown:
            # a typo'd field name must not silently DISABLE the
            # behavior the operator configured (same stance as
            # runner.from_config's on_invalid_position validation)
            raise ValueError(
                f"unknown JobConfig fields {unknown}; known fields: "
                f"{sorted(cls.__dataclass_fields__)}"
            )
        return cls(**raw)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(asdict(self), f, indent=2)
