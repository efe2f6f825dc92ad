"""Job configuration (SURVEY.md §2.8 O3 — the reference's TrackerConf,
``tracker/utils/TrackerConf.java:89-231``: static defaults overridden
by a per-job JSON with filter lists and position overrides).

:class:`JobConfig` is the apply job's one options object: every option
has its one default and its one comment here, and ``__post_init__``
holds every option check, so ``JobConfig(...)``, :meth:`JobConfig.load`
and ``dataclasses.replace`` reject a bad value the same way. It is
frozen: a running job picks up new options only when a whole new
config is swapped in (``job.cfg = dataclasses.replace(job.cfg, ...)``).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import asdict, dataclass, field, fields
from typing import Callable


@dataclass(frozen=True)
class JobConfig:
    # identity (reference: jobId)
    job_id: str = "mysql-tracker-spark"
    # source: a directory of offset-ordered micro-batch files
    input_dir: str = ""
    source_format: str = "typed"  # typed | wire | jsonl
    files_per_batch: int = 1  # flush-threshold analogue (B2 batchsize)
    # target
    table_path: str = ""
    schema_name: str = "chat"
    table_name: str = "transcripts"
    # bucket count of a table this job creates (an existing table keeps
    # its own)
    n_buckets: int = 32
    # F1/F2 stream filters (reference filterRegex + filterMap,
    # TrackerConf.java:206-216). The job applies ONE target table, so a
    # filter that excludes it is a misconfiguration — every event would
    # be dropped and empty batches committed forever — and is rejected.
    filter_regex: str | None = None
    allowlist: list[list[str]] = field(default_factory=list)  # [schema, table] pairs
    # position override (C2; reference logfile/offset config keys):
    # used only when no checkpoint has been committed yet — the
    # reference's resolution order is checkpoint, then config position,
    # then live head (HandlerMagpieKafka.java:363-406). Events at or
    # before (start_file, start_pos) are fenced out.
    start_file: str | None = None
    start_pos: int | None = None
    # invalid-position policy (C5/C7; the reference deletes the
    # checkpoint and reloads from the live head on errno 1236): when
    # set, run() probes the committed watermark against the retained
    # input first and fails ("fail") or replays everything retained
    # ("reset_earliest"); None skips the probe
    on_invalid_position: str | None = None  # fail | reset_earliest | None
    # destructive-DDL policy (DROP/RENAME of the target table):
    # "raise" = operator decision (default), "ignore" = skip like the
    # reference (it only invalidates its meta cache)
    on_destructive_ddl: str = "raise"
    # dead-letter audit (wire source only): when set, each batch
    # persists its corrupt frames (truncated / bad_crc / malformed,
    # verbatim payload + reason) here instead of only dropping them;
    # None keeps the reference's log-and-skip (LogDecoder.java:158-169)
    quarantine_dir: str | None = None
    # sink write mode: "cow" rewrites affected buckets per batch
    # (read-optimized; cost tracks the touched buckets); "mor" commits
    # the batch's change set as bucket delta files (write-optimized;
    # cost tracks the batch) and auto-compacts a bucket once it holds
    # mor_compact_threshold deltas, bounding read amplification
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
    # declarative data-quality gates (quality.py::from_spec dicts or
    # built quality.Expect objects): `expectations` run per batch on
    # the UPSERT rows before the merge; `table_expectations` run on the
    # STAGED post-merge table state through the write-audit-publish
    # gate (lakestore WAP) — invariants a batch-level gate cannot
    # express (turn-sequence gaps, cross-row uniqueness). Kinds:
    # not_null/in_set/range/unique/sql; {"blocking": true} makes a
    # violation fail the batch (table + watermark untouched)
    expectations: list = field(default_factory=list)
    table_expectations: list = field(default_factory=list)
    # autonomous layout growth: when mean live rows/bucket exceeds
    # this, the runner doubles the bucket count metadata-only
    # (lakestore split_buckets) and migrates auto_split_migrate_per_
    # batch shared buckets per subsequent batch; None disables
    auto_split_rows_per_bucket: int | None = None
    auto_split_migrate_per_batch: int = 16
    # apply onto a BRANCH of the target table (created at the current
    # main head if absent): batches commit to the branch's snapshot
    # chain, fenced by the branch's own watermark, while main stays
    # untouched — audit the branch, then table.fast_forward(name)
    # publishes it or drop_branch discards it. The table must exist.
    branch: str | None = None
    # snapshot retention: expire down to the newest expire_keep_last
    # snapshots after each applied batch (Iceberg expire_snapshots,
    # inlined); None keeps every snapshot. Main chain only — rejected
    # at prepare() together with branch.
    expire_keep_last: int | None = None
    # GTID replication-state fences: MariaDB GTID_LIST form
    # "0-1-100,1-2-7" and MySQL executed-set form
    # "uuid:1-100[,uuid2:...]" ("" = no fence, a fresh server's empty
    # PREVIOUS_GTIDS preamble). Typed/jsonl sources fence on the gtid
    # column; the wire source fences via its GTID control frames.
    gtid_list: str | None = None
    gtid_set: str | None = None
    # C5 incident policy: an INCIDENT frame ("possibly lost events on
    # the master", LogEvent.java:161-163) past the fence fails the
    # batch, or is recorded in stats/lineage while the apply continues
    incident_policy: str = "fail"  # fail | record
    # ingest transform hook (Debezium single-message-transform
    # analogue): a callable, or its importable dotted path
    # "package.module:callable" (the JSON spelling), taking and
    # returning the batch's post-LWW change set (key cols + typed
    # payload + __delete) — redaction, normalization, enrichment before
    # the quality gates audit what lands. It must be a deterministic
    # row-wise expression (a replayed batch must reproduce its rows)
    # that keeps the column set and leaves key columns and __delete
    # alone; the column set is checked per batch.
    transform: str | Callable | None = None

    def __post_init__(self):
        for name, allowed in (
            ("write_mode", ("cow", "mor")),
            ("incident_policy", ("fail", "record")),
            ("on_invalid_position", ("fail", "reset_earliest", None)),
        ):
            if getattr(self, name) not in allowed:
                raise ValueError(
                    f"{name} must be one of {allowed}, got {getattr(self, name)!r}"
                )
        if self.mor_compact_threshold < 1:
            raise ValueError("mor_compact_threshold must be >= 1")
        if self.auto_split_rows_per_bucket is not None and self.auto_split_rows_per_bucket < 1:
            raise ValueError("auto_split_rows_per_bucket must be >= 1")
        if self.auto_split_migrate_per_batch < 1:
            raise ValueError("auto_split_migrate_per_batch must be >= 1")
        object.__setattr__(self, "gtid_list", self.gtid_list or None)
        object.__setattr__(self, "gtid_set", self.gtid_set or None)
        if self.gtid_set is not None:
            from .operators.parse import parse_gtid_set

            parse_gtid_set(self.gtid_set)
        target = f"{self.schema_name}.{self.table_name}"
        rx = self.filter_regex
        if rx is not None and not re.match(rx if rx.startswith("^") else f"^(?:{rx})$", target):
            raise ValueError(
                f"filter_regex {rx!r} excludes the target table {target} — "
                "the apply job would drop every event"
            )
        if self.allowlist and [self.schema_name, self.table_name] not in [
            list(a) for a in self.allowlist
        ]:
            raise ValueError(f"allowlist {self.allowlist!r} excludes the target table {target}")
        from .quality import from_specs

        from_specs(self.expectations)
        from_specs(self.table_expectations)
        _resolve_transform(self.transform)

    @classmethod
    def load(cls, path: str) -> "JobConfig":
        with open(path) as f:
            raw = json.load(f)
        unknown = sorted(k for k in raw if k not in cls.__dataclass_fields__)
        if unknown:
            # a typo'd field name must not silently DISABLE the
            # behavior the operator configured
            raise ValueError(
                f"unknown JobConfig fields {unknown}; known fields: "
                f"{sorted(cls.__dataclass_fields__)}"
            )
        return cls(**raw)

    def dump(self, path: str) -> None:
        """Write the config as the JSON :meth:`load` reads back, through
        a temp file and ``os.replace``. A field holding what JSON cannot
        carry (a callable ``transform``, a built ``quality.Expect``)
        raises ``ValueError`` naming it before anything is written:
        give its dotted path or spec dict instead."""
        for f in fields(self):
            if not _plain(getattr(self, f.name)):
                raise ValueError(
                    f"JobConfig.{f.name} holds a value JSON cannot carry; "
                    "give a dotted path / spec dict to dump it"
                )
        tmp = f"{path}.tmp"
        with open(tmp, "w") as fh:
            json.dump(asdict(self), fh, indent=2)
        os.replace(tmp, path)


def _plain(v) -> bool:
    """True iff ``v`` is built only of JSON's types."""
    if isinstance(v, (list, tuple)):
        return all(_plain(x) for x in v)
    if isinstance(v, dict):
        return all(isinstance(k, str) and _plain(x) for k, x in v.items())
    return v is None or isinstance(v, (str, int, float, bool))


def _resolve_transform(spec):
    """Resolve a ``transform`` value: a callable passes through; a
    dotted path ``"package.module:callable"`` is imported (the
    spark-submit-friendly spelling — a JSON config can't carry a
    function object). None stays None."""
    if spec is None or callable(spec):
        return spec
    if not isinstance(spec, str) or ":" not in spec:
        raise ValueError(
            "transform must be a callable or 'package.module:callable', "
            f"got {spec!r}"
        )
    import importlib

    mod_name, _, attr = spec.partition(":")
    fn = getattr(importlib.import_module(mod_name), attr)
    if not callable(fn):
        raise ValueError(f"transform {spec!r} resolved to a non-callable")
    return fn
