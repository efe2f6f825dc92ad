"""Replay driver: the reference's prepare/run lifecycle (SURVEY.md
§2.8 O1/O2) as a fenced micro-batch loop.

One ``run()`` iteration ≡ the reference's ``HandlerMagpieKafka.run()``
micro-batch body (``tracker/HandlerMagpieKafka.java:818-935``):

    drain (read batch) -> filter -> [apply DDL] -> LWW dedup ->
    typed project -> MERGE -> commit watermark

with two upgrades over the reference:

* **exactly-once**: the offset watermark is committed *in the same
  atomic lakestore snapshot* as the data (the reference confirms to ZK
  only after the Kafka send — ``run()`` order :887 send, :892 confirm —
  leaving an at-least-once duplicate window). Killing this job between
  any two statements and re-running converges to the identical table.
* **distribution**: decode/dedup/merge are Spark jobs; the hot-key
  problem the reference never has (single reader) is handled by
  map-side partial aggregation in LWW dedup plus AQE skew joins.

DDL ordering: all of a batch's DDLs are applied to the table schema in
log order *before* the batch's DML is merged. Because change values
are canonical strings and the typed view is a pure function of the
final schema (add-column → older events project null; widen → strings
parse into the wider type), this is equivalent to interleaved
application for the supported DDL set (add / widen).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from .lakestore import LakeTable
from .operators.dedup import lww_latest
from .operators.filters import dml_for_table
from .operators.parse import after_watermark, typed_from_map
from .schema import CHANGE_EVENT_SCHEMA, LOG_ORDER, TRANSCRIPTS_BASE_SCHEMA


def write_input_manifest(input_dir: str, files: list[str] | None = None) -> str:
    """Commit an input manifest (``_batches.json``) naming the files —
    in log order — that :meth:`CdcApplyJob.batch_files` may consume.
    ``files=None`` snapshots the current ``*.parquet`` listing. The
    write is atomic (temp + rename), so a producer can extend the
    manifest while a replay job runs: files beyond the manifest stay
    invisible until the next commit — the input-side commit point."""
    if files is None:
        # snapshot BOTH batch-file extensions: a jsonl pipeline whose
        # producer calls this with files=None must not commit an empty
        # manifest (batch_files treats the manifest as authoritative,
        # so an empty one silently applies nothing forever)
        files = sorted(
            f
            for f in os.listdir(input_dir)
            if f.endswith((".parquet", ".jsonl"))
        )
    names = [os.path.basename(f) for f in files]
    target = os.path.join(input_dir, CdcApplyJob.INPUT_MANIFEST)
    tmp = target + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"files": names}, f)
    os.replace(tmp, target)
    return target


def _parquet_dir_rows(d: str) -> int:
    """Total row count of every parquet file under ``d`` read from the
    FILE FOOTERS only (pyarrow metadata; no Spark job, no data read).
    Cost: one footer read per file — bounded by n_buckets."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return total


@dataclass
class ApplyStats:
    batch_id: int
    rows_in: int = 0
    rows_applied: int = 0
    skipped: bool = False
    file_start: str | None = None
    pos_start: int | None = None
    file_end: str | None = None
    pos_end: int | None = None
    bytes_in: int | None = None
    txn_file_end: str | None = None
    txn_pos_end: int | None = None
    wall_ms: int = 0
    snapshot_version: int | None = None
    lag_s: float | None = None
    phase_ms: dict = field(default_factory=dict)
    # LWW observability: winners = distinct keys in the delta;
    # collapse = rows_applied / winners (how hot the keys were);
    # lww_variant = which dedup formulation this batch ran
    rows_winners: int | None = None
    lww_variant: str | None = None
    # dead-letter audit (wire path, opt-in): corrupt frames persisted
    # this batch; None = quarantine disabled
    frames_quarantined: int | None = None
    # M4 liveness (wire path): header timestamp of the newest HEARTBEAT
    # frame in this batch (epoch s); None = no heartbeat seen. A
    # heartbeat-only batch still advances the watermark — the master
    # proving liveness at idle is exactly what the event is for.
    heartbeat_ts: float | None = None
    # C5 incident surface (wire path, incident_policy="record"): the
    # past-fence INCIDENT frames this batch carried, as
    # (file, pos, message) triples; None = none seen
    incidents: list | None = None
    # data-quality gate (opt-in): per-expectation violation counts for
    # this batch's upserts; None = no expectations declared
    expectation_violations: dict | None = None
    # sink write mode this batch committed under ("cow" | "mor") and,
    # under mor, the buckets auto-compacted after the commit (None =
    # no compaction ran)
    write_mode: str | None = None
    compacted_buckets: list | None = None
    # autonomous layout growth (auto_split_rows_per_bucket): the new
    # bucket count when this batch triggered a metadata-only split, and
    # the bucket ids of the bounded shared-backlog slice this batch
    # materialized toward completing the migration
    split_to: int | None = None
    migrated_buckets: list | None = None
    # per-PARTITION lineage (north_star: offset ranges, row counts,
    # snapshot ids per partition): rows this commit wrote into each
    # affected bucket, from parquet footer stats — delta rows (LWW
    # winners incl. tombstones) under mor, the rewritten buckets'
    # live rows (survivors + upserts) under cow
    bucket_rows: dict | None = None
    # write-audit-publish gate (opt-in): per-expectation violation
    # counts measured on the STAGED post-merge table state; None = no
    # table-level expectations declared
    table_audit: dict | None = None


def _resolve_transform(spec):
    """Resolve a JobConfig ``transform`` value: a callable passes
    through; a dotted path ``"package.module:callable"`` is imported
    (the spark-submit-friendly spelling — a JSON config can't carry a
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


def config_kwargs(cfg) -> dict:
    """:class:`CdcApplyJob` keywords for a
    :class:`~mysql_tracker_spark.config.JobConfig`: everything except
    the input and table paths, which every job front-end takes
    positionally."""
    from .quality import from_specs

    policy_map = {"fail": "fail", "reset_earliest": "earliest", None: None}
    if cfg.on_invalid_position not in policy_map:
        # a typo must not silently DISABLE the validation the
        # operator explicitly configured (errno-1236 analogue)
        raise ValueError(
            "on_invalid_position must be 'fail' or 'reset_earliest', "
            f"got {cfg.on_invalid_position!r}"
        )
    return dict(
        schema_name=cfg.schema_name,
        table_name=cfg.table_name,
        n_buckets=cfg.n_buckets,
        files_per_batch=cfg.files_per_batch,
        source_format=cfg.source_format,
        start_file=cfg.start_file,
        start_pos=cfg.start_pos,
        reset_policy=policy_map[cfg.on_invalid_position],
        on_destructive_ddl=cfg.on_destructive_ddl,
        filter_regex=cfg.filter_regex,
        allowlist=cfg.allowlist or None,
        n_salts=cfg.n_salts,
        quarantine_dir=cfg.quarantine_dir,
        expectations=from_specs(cfg.expectations),
        table_expectations=from_specs(cfg.table_expectations),
        write_mode=cfg.write_mode,
        mor_compact_threshold=cfg.mor_compact_threshold,
        auto_split_rows_per_bucket=cfg.auto_split_rows_per_bucket,
        auto_split_migrate_per_batch=cfg.auto_split_migrate_per_batch,
        compact_sort_by=cfg.compact_sort_by,
        compact_files_per_bucket=cfg.compact_files_per_bucket,
        transform=_resolve_transform(cfg.transform),
        bloom_cols=cfg.bloom_cols or None,
        gtid_list=cfg.gtid_list,
        gtid_set=cfg.gtid_set,
        incident_policy=cfg.incident_policy,
    )


class IncidentError(RuntimeError):
    """An INCIDENT_EVENT ("possibly lost events on the master",
    ``mysql/dbsync/event/IncidentLogEvent.java:41-50``) was found past
    the fence and ``incident_policy="fail"`` (default) — continuing
    would silently accept a gap in the change stream. Carries the
    ``incidents`` list of (file, pos, message) triples."""

    def __init__(self, incidents: list):
        self.incidents = incidents
        first = incidents[0] if incidents else ("?", 0, None)
        super().__init__(
            f"{len(incidents)} INCIDENT frame(s) in batch, first at "
            f"{first[0]}:{first[1]} ({first[2]!r}) — the master reports "
            "possibly lost events. Resolve the gap (re-snapshot, or "
            "accept it with incident_policy='record') before resuming."
        )


class CdcApplyJob:
    """Replay a directory of offset-ordered change-event parquet batches
    into a lakestore transcripts table, exactly once."""

    # Bound on the wire manifest pass's driver-side DDL-frame collect:
    # QUERY frames beyond this raise loudly instead of OOMing the
    # driver (DDL is rare by nature; 1024/batch is already pathological).
    MAX_DDL_FRAMES_PER_BATCH = 1024
    # Same bound for INCIDENT frames (C5): a master emits one per
    # fault; dozens in one batch is itself an incident and fails
    # loudly whatever the incident_policy.
    MAX_INCIDENT_FRAMES_PER_BATCH = 64
    # Staging-dir reclamation (prepare sweep): OWNERSHIP LIVENESS
    # first — every job heartbeats an `_owner_<run_id>.alive` marker
    # (daemon thread, OWNER_HEARTBEAT_S cadence), so a staging dir
    # whose owner marker is fresh is NEVER swept however old the dir
    # is (a legitimately >1h in-flight batch on a shared table path
    # keeps its staging), and one whose marker went stale
    # (>OWNER_STALE_S — the process died, daemon thread with it) is
    # provably debris and reaped immediately. Dirs with no marker at
    # all (legacy/unparseable) fall back to the age gate.
    STAGING_DEBRIS_AGE_S = 3600.0
    OWNER_HEARTBEAT_S = 60.0
    OWNER_STALE_S = 900.0

    # Auto skew escalation (n_salts=0 only): when a batch's collapse
    # ratio (applied rows / LWW winners) crosses AUTO_SALT_RATIO, the
    # NEXT batch switches to the explicit two-phase salted LWW with
    # AUTO_SALTS salts (measured ~1.5x faster under a single-key
    # flood); it drops back when the ratio does. The ratio costs
    # nothing: rows_applied comes from the manifest pass, winners from
    # the delta files' parquet footers (driver-side metadata reads, no
    # job). Normal workloads sit at ratio ~1-5, floods at 10^2-10^3+,
    # so the regimes are far apart and no hysteresis is needed.
    AUTO_SALT_RATIO = 32.0
    AUTO_SALTS = 16

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str,
        table_path: str,
        schema_name: str = "chat",
        table_name: str = "transcripts",
        base_schema: T.StructType = TRANSCRIPTS_BASE_SCHEMA,
        key_cols: tuple[str, str] = ("conv_id", "turn_idx"),
        n_buckets: int = 32,
        files_per_batch: int = 1,
        source_format: str = "typed",  # "typed" | "wire"
        n_salts: int = 0,
        start_file: str | None = None,
        start_pos: int | None = None,
        reset_policy: str | None = None,
        on_destructive_ddl: str = "raise",  # raise | ignore
        filter_regex: str | None = None,
        allowlist: list[tuple[str, str]] | None = None,
        expire_keep_last: int | None = None,
        quarantine_dir: str | None = None,
        expectations: list | None = None,
        table_expectations: list | None = None,
        write_mode: str = "cow",  # cow | mor
        mor_compact_threshold: int = 8,
        compact_sort_by: str | None = None,
        compact_files_per_bucket: int = 1,
        transform=None,
        bloom_cols: list[str] | None = None,
        auto_split_rows_per_bucket: int | None = None,
        auto_split_migrate_per_batch: int = 16,
        branch: str | None = None,
        pipeline_prefetch: bool = True,
        gtid_list: str | None = None,
        gtid_set: str | None = None,
        incident_policy: str = "fail",  # fail | record
    ):
        """``branch="name"`` applies onto a BRANCH of the target table
        (created at the current main head if absent): batches commit to
        the branch's snapshot chain, fenced by the branch's own
        watermark, while main stays untouched — audit the branch state,
        then ``table.fast_forward(name)`` publishes it (with the
        branch's final watermark) or ``drop_branch`` discards it. The
        table must already exist (a branch of nothing is meaningless).

        ``n_salts > 0`` switches LWW dedup to the explicit two-phase
        salted aggregation (local max per (key, salt) -> global max per
        key) for workloads where a single hot conversation floods
        individual input partitions faster than map-side partial
        aggregation collapses it (north_star skew handling; semantics
        identical, see operators/dedup.py)."""
        self.spark = spark
        self.input_dir = input_dir
        self.table_path = table_path
        self.schema_name = schema_name
        self.table_name = table_name
        self.base_schema = base_schema
        self.key_cols = list(key_cols)
        self.n_buckets = n_buckets
        self.files_per_batch = files_per_batch
        self.source_format = source_format
        self.n_salts = n_salts
        # unique per-job staging namespace: fixed _delta_<batch_id> /
        # _winners_<batch_id> names would let two jobs on one table
        # path (main apply + a concurrent branch apply) overwrite or
        # adopt each other's in-flight staged data
        import uuid as _uuid

        self._run_id = _uuid.uuid4().hex[:8]
        # GTID replication-state fences — MariaDB GTID_LIST form
        # ("0-1-100,1-2-7") and MySQL executed-set form
        # ("uuid:1-100[,uuid2:...]"). Applied in _stream_filters on
        # sources that carry a gtid column (typed/jsonl); on the wire
        # path, GTID control frames (GTID_LOG_EVENT 33 / MariaDB GTID
        # 162) open each transaction, so _wire_gtid_fence runs the same
        # executed-set predicate on that tiny per-txn projection and
        # anti-joins the fenced xids out of the decoded DML
        self.gtid_list = gtid_list or None  # "" = no fence (empty
        self.gtid_set = gtid_set or None    # PREVIOUS_GTIDS preamble)
        # validate the MySQL set at job build with the shared parser, so
        # a malformed set fails here instead of mid-batch
        if self.gtid_set is not None:
            from .operators.parse import parse_gtid_set

            parse_gtid_set(self.gtid_set)
        # C5 incident policy: an INCIDENT_EVENT (LogEvent.java:161-163,
        # "possibly lost events") past the fence either fails the batch
        # (default — an operator must decide, like reset_policy) or is
        # recorded in stats/lineage while the apply continues
        if incident_policy not in ("fail", "record"):
            raise ValueError(
                f"incident_policy must be 'fail' or 'record', got {incident_policy!r}"
            )
        self.incident_policy = incident_policy
        # auto skew escalation state (see AUTO_SALT_RATIO)
        self._escalated = False
        # pipelined micro-batches (wire source): the run loop prefetches
        # the NEXT batch's JVM manifest pass concurrently with the
        # current batch's delta+merge (~12% of batch wall measured);
        # revalidated against the advanced watermark by
        # _WireSource.manifest when apply_batch consumes it
        self.pipeline_prefetch = pipeline_prefetch
        # batch_id -> (Future[_Manifest], (wm_file, wm_pos)); <=2 entries
        self._prefetch: dict = {}
        # C2 bootstrap fallback (reference order: checkpoint first, then
        # config-supplied position — HandlerMagpieKafka.java:363-406)
        self.start_file = start_file
        self.start_pos = start_pos
        self.branch = branch
        self.reset_policy = reset_policy
        self.on_destructive_ddl = on_destructive_ddl
        # snapshot retention: a long-running job commits >=1 snapshot
        # per micro-batch — unbounded metadata + unreclaimed rewritten
        # files without expiry. When set, expire down to the newest
        # `expire_keep_last` snapshots after each applied batch
        # (Iceberg's expire_snapshots maintenance, inlined; time travel
        # stays available inside the retained window).
        self.expire_keep_last = expire_keep_last
        # dead-letter audit (wire path): when set, each batch persists
        # its corrupt frames (truncated / bad_crc / malformed, verbatim
        # payload + reason) under this directory instead of ONLY
        # dropping them — the reference logs-and-skips
        # (LogDecoder.java:158-169), which at 10^10 events makes data
        # loss unauditable. None (default) keeps the pure drop path.
        self.quarantine_dir = quarantine_dir
        # audit-before-publish gate (quality.py): blocking expectations
        # run per batch on the UPSERT rows BEFORE the MERGE
        self.expectations = list(expectations or [])
        # write-audit-publish gate (lakestore WAP): expectations run on
        # the STAGED post-merge TABLE STATE — invariants a batch-level
        # gate cannot express (turn-sequence gaps, row-count floors,
        # cross-row uniqueness after the merge). When non-empty, every
        # batch commit stages first, audits read_staged, then publishes
        # (pass) or aborts + raises (fail; table and watermark
        # untouched, the batch replays through the fence after the fix)
        self.table_expectations = list(table_expectations or [])
        # ingest transform hook (Debezium single-message-transform
        # analogue): callable(DataFrame) -> DataFrame over the batch's
        # post-LWW change set (key cols + typed payload + __delete) —
        # redaction, normalization, enrichment AT INGEST, before the
        # quality gates audit what actually lands. Contract: must be a
        # pure, DETERMINISTIC row-wise Catalyst expression (replay of a
        # fenced batch must reproduce byte-identical rows) and must not
        # modify key columns or __delete (bucket placement / delete
        # semantics). The engine validates the column set is unchanged;
        # cost tracks the batch's LWW winners, never raw events.
        self.transform = transform
        # sink write mode: "cow" rewrites affected buckets per batch
        # (read-optimized; per-batch cost tracks the touched buckets);
        # "mor" appends the batch's change set as bucket delta files
        # (write-optimized; per-batch cost tracks the BATCH — the
        # 10^10-event shape when keys spread across all buckets) and
        # auto-compacts any bucket once it accumulates
        # `mor_compact_threshold` deltas, bounding read amplification.
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")
        if mor_compact_threshold < 1:
            raise ValueError("mor_compact_threshold must be >= 1")
        self.write_mode = write_mode
        self.mor_compact_threshold = mor_compact_threshold
        # range-clustered compaction (Iceberg rewrite-with-sort-order):
        # when set, auto-compaction folds each bucket into
        # ~compact_files_per_bucket files sorted on compact_sort_by,
        # keeping the stamped min/max bounds tight so read_where's file
        # skipping survives compaction (a monolithic compacted file
        # spans the whole history and can never be skipped)
        self.compact_sort_by = compact_sort_by
        self.compact_files_per_bucket = compact_files_per_bucket
        # bloom-indexed columns (lakestore per-file bloom bitmaps,
        # stamped at every write; read via table.read_where_in) —
        # point-read pruning on high-cardinality non-key columns. Under
        # write_mode="mor" the adopted deltas carry no bitmaps until
        # compaction rewrites them (never skipped meanwhile)
        self.bloom_cols = list(bloom_cols) if bloom_cols else None
        # autonomous layout growth: once mean live rows/bucket exceeds
        # this threshold, split_buckets doubles the count (metadata-
        # only) and subsequent batches migrate <= auto_split_migrate_
        # per_batch shared buckets each — the table's layout follows
        # its growth with bounded extra work per batch, no operator
        if auto_split_rows_per_bucket is not None and auto_split_rows_per_bucket < 1:
            raise ValueError("auto_split_rows_per_bucket must be >= 1")
        if auto_split_migrate_per_batch < 1:
            raise ValueError("auto_split_migrate_per_batch must be >= 1")
        self.auto_split_rows_per_bucket = auto_split_rows_per_bucket
        self.auto_split_migrate_per_batch = auto_split_migrate_per_batch
        # F1/F2 stream filters (reference filterRegex + filterMap,
        # TrackerConf.java:206-216). This job applies ONE target table,
        # so a filter that excludes the target is a misconfiguration:
        # every event would be dropped and the job would silently
        # commit empty batches forever — fail fast instead.
        self.filter_regex = filter_regex
        self.allowlist = [tuple(a) for a in allowlist] if allowlist else None
        target = f"{schema_name}.{table_name}"
        if filter_regex is not None:
            import re as _re

            anchored = filter_regex if filter_regex.startswith("^") else f"^(?:{filter_regex})$"
            if not _re.match(anchored, target):
                raise ValueError(
                    f"filter_regex {filter_regex!r} excludes the target table "
                    f"{target} — the apply job would drop every event"
                )
        if self.allowlist is not None and (schema_name, table_name) not in self.allowlist:
            raise ValueError(
                f"allowlist {self.allowlist!r} excludes the target table {target}"
            )
        self.table: LakeTable | None = None

    @classmethod
    def from_config(cls, spark: SparkSession, cfg, **overrides) -> "CdcApplyJob":
        """Build a job from a :class:`~mysql_tracker_spark.config.JobConfig`
        (the reference's per-job JSON, O3). ``overrides`` are constructor
        keywords that win over the config's — options a JSON config
        cannot carry (parsed expectations, ``branch``,
        ``expire_keep_last``)."""
        return cls(
            spark, cfg.input_dir, cfg.table_path,
            **{**config_kwargs(cfg), **overrides},
        )

    # ------------------------------------------------------------- lifecycle

    def prepare(self) -> LakeTable:
        """O1 prepare: open-or-create the target table (position
        bootstrap C2 = read watermark from the last committed
        snapshot's properties)."""
        if LakeTable.exists(self.table_path):
            self.table = LakeTable.load(self.table_path)
            # crash debris: delta staging dirs from a killed run are
            # harmless (never referenced by a committed snapshot) but
            # reclaim the space before replaying. Ownership-liveness
            # gated (see the constants above): live owner -> keep,
            # provably dead owner -> reap now, no owner marker -> age
            # gate. Dirs first, THEN stale markers, so a stale marker
            # still proves its dirs dead within this sweep.
            import shutil

            now = time.time()
            entries = os.listdir(self.table_path)

            def _marker_age(run_id: str) -> float | None:
                try:
                    return now - os.path.getmtime(
                        os.path.join(
                            self.table_path, f"_owner_{run_id}.alive"
                        )
                    )
                except OSError:
                    return None

            for d in entries:
                if not d.startswith(("_delta_", "_winners_")):
                    continue
                p = os.path.join(self.table_path, d)
                # names are _delta_<run_id>_<batch_id> / _winners_...
                parts = d.split("_")
                run_id = parts[2] if len(parts) >= 4 else ""
                age = _marker_age(run_id) if run_id else None
                if age is not None and age < self.OWNER_STALE_S:
                    continue  # owner provably live
                if age is None:
                    # no marker: crash predating the marker write, or a
                    # foreign name — keep the conservative age gate
                    try:
                        if now - os.path.getmtime(p) < self.STAGING_DEBRIS_AGE_S:
                            continue
                    except OSError:
                        continue
                shutil.rmtree(p, ignore_errors=True)
            for d in entries:
                if d.startswith("_owner_") and d.endswith(".alive"):
                    p = os.path.join(self.table_path, d)
                    try:
                        if now - os.path.getmtime(p) >= self.OWNER_STALE_S:
                            os.remove(p)
                    except OSError:
                        pass
        else:
            if self.branch is not None:
                raise FileNotFoundError(
                    f"branch={self.branch!r} requested but no table exists "
                    f"at {self.table_path} — a branch forks an existing "
                    "main head"
                )
            self.table = LakeTable.create(
                self.table_path,
                self.base_schema,
                key_cols=self.key_cols,
                bucket_by=self.key_cols[0],
                n_buckets=self.n_buckets,
                bloom_cols=self.bloom_cols,
            )
        if self.branch is not None:
            if self.expire_keep_last is not None:
                # snapshot retention is a MAIN-chain maintenance concern
                # (_BranchTable.expire_snapshots raises); failing here
                # beats crashing mid-batch after work was committed
                raise ValueError(
                    "expire_keep_last cannot be combined with branch= — "
                    "run retention on the main table after fast_forward"
                )
            root = self.table
            try:
                self.table = root.load_branch(self.branch)
            except FileNotFoundError:
                self.table = root.branch(self.branch)
        self._start_owner_heartbeat()
        return self.table

    def _owner_marker(self, run_id: str | None = None) -> str:
        return os.path.join(
            self.table_path, f"_owner_{run_id or self._run_id}.alive"
        )

    def _start_owner_heartbeat(self) -> None:
        """Ownership liveness for the staging sweep: touch
        ``_owner_<run_id>.alive`` now and every OWNER_HEARTBEAT_S from
        a daemon thread. The thread dies with the process, so a killed
        job's marker goes stale and its staging becomes reapable —
        genuine liveness, not an age heuristic. Idempotent."""
        if getattr(self, "_owner_stop", None) is not None:
            return
        import threading

        marker = self._owner_marker()

        def _touch():
            try:
                with open(marker, "a"):
                    pass
                os.utime(marker, None)
            except OSError:
                pass  # sweep falls back to the age gate

        _touch()
        stop = threading.Event()

        def _beat():
            while not stop.wait(self.OWNER_HEARTBEAT_S):
                _touch()

        t = threading.Thread(
            target=_beat, daemon=True, name=f"mts-owner-{self._run_id}"
        )
        t.start()
        self._owner_stop = stop

    def close(self) -> None:
        """Release the job's ownership marker: stop the liveness
        heartbeat and remove ``_owner_<run_id>.alive``. Idempotent and
        optional — an unclosed (or crashed) job's marker simply goes
        stale and the next prepare() sweep removes it."""
        stop = getattr(self, "_owner_stop", None)
        if stop is not None:
            stop.set()
            self._owner_stop = None
        try:
            os.remove(self._owner_marker())
        except OSError:
            pass

    def watermark(self) -> tuple[str | None, int | None, int]:
        p = self.table.properties()
        f = p.get("offset_file") or None  # "" = cleared checkpoint (C5 reset)
        seq = int(p.get("batch_seq") or -1)
        if f is not None:
            return f, int(p["offset_pos"]) if p.get("offset_pos") else None, seq
        if self.start_file is not None:
            # C2 fallback: config-supplied start position (events at or
            # before it are fenced out), used only when no checkpoint
            # has ever been committed — the reference's resolution order
            return self.start_file, int(self.start_pos or 0), seq
        return None, None, seq

    def bootstrap_snapshot(
        self,
        snapshot_df: DataFrame,
        file: str,
        pos: int,
        allow_nonempty: bool = False,
    ) -> int:
        """Initial-load bootstrap (Debezium "initial snapshot" / Canal
        full-dump analogue): seed the table from a full-table snapshot
        DataFrame and fence the CDC stream at the snapshot's binlog
        position ``(file, pos)``, so the next :meth:`run` catches up
        from there instead of requiring the binlog back to the
        beginning of time. The reference can only start a tracker at a
        configured position and loses every row written before it
        (``tracker/position/EntryPosition.java:45-69`` bootstraps the
        *offset*, never the data); a user starting CDC on an existing
        database needs the existing rows too — this is that missing
        first step.

        Convergence contract (what makes a FUZZY snapshot safe): the
        seeded rows carry no log position — they are the *base* state —
        and every replayed event at position > ``(file, pos)`` wins per
        key via the idempotent full-image MERGE. So a snapshot read
        WHILE writes continued is fine as long as ``(file, pos)`` is a
        position at-or-BEFORE the snapshot read began (MySQL:
        ``SHOW MASTER STATUS`` under the same consistent-read txn, the
        Debezium lock-free snapshot recipe): events in the overlap
        window re-apply over rows that may already reflect them, and
        because MySQL row events carry full after-images, re-applying
        is a per-key no-op — replay converges to the true state
        (``tests/test_bootstrap.py`` asserts both the aligned and the
        overlapped fence).

        One bucketed ``overwrite`` commit: snapshot rows are cast to
        the table schema, hashed into the table's buckets (one
        exchange, one write — at 10^10 rows this is a plain
        bucket-partitioned parquet write, no MERGE read side), and the
        watermark properties land in the SAME atomic commit — crash
        before the commit leaves an empty table with no fence, crash
        after leaves the complete bootstrap; there is no state in
        which data exists without its fence.

        Refuses a table that already has data or a committed watermark
        unless ``allow_nonempty=True`` (re-bootstrap = explicit
        operator decision, it rewrites everything)."""
        if self.table is None:
            self.prepare()
        t0 = time.time()
        wm_file, _, _ = self.watermark()
        if not allow_nonempty:
            if wm_file is not None:
                raise ValueError(
                    f"table already has a committed watermark ({wm_file}); "
                    "bootstrap would rewrite applied state — pass "
                    "allow_nonempty=True to force"
                )
            if self.table.row_count(self.spark) != 0:
                raise ValueError(
                    "table is not empty; bootstrap would rewrite existing "
                    "rows — pass allow_nonempty=True to force"
                )
        schema = self.table.schema()
        snap_cols = set(snapshot_df.columns)
        missing = [f.name for f in schema.fields if f.name not in snap_cols]
        if missing:
            raise ValueError(f"snapshot is missing table columns: {missing}")
        # the snapshot's schema is authoritative at its position: any
        # column beyond the configured base schema is a DDL evolution
        # that happened BEFORE the snapshot point, so adopt it now
        # exactly as the mid-stream ADD COLUMN path would have
        # (otherwise catchup — which only replays DDL after the fence —
        # could never learn it)
        have = {f.name for f in schema.fields}
        extra = [sf for sf in snapshot_df.schema.fields if sf.name not in have]
        if extra:
            self.table.update_schema(
                T.StructType(list(schema.fields) + extra),
                note="bootstrap: adopt snapshot schema",
            )
            schema = self.table.schema()
        typed = snapshot_df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
        version = self.table.overwrite(
            typed,
            properties={
                "offset_file": file,
                "offset_pos": str(pos),
                "batch_seq": "-1",
                "bootstrap": "snapshot",
            },
        )
        stats = ApplyStats(batch_id=-1)
        stats.file_end, stats.pos_end = file, pos
        stats.rows_in = stats.rows_applied = self.table.row_count(self.spark)
        stats.snapshot_version = version
        stats.write_mode = "bootstrap"
        stats.wall_ms = int((time.time() - t0) * 1000)
        self._append_lineage(stats)
        return version

    def validate_position(self, reset_policy: str = "fail", deep: bool = False) -> dict:
        """C7 position-validity probe + C5 invalid-position recovery.

        The reference opens a second dump connection to test a stored
        position (``EntryPosition.isValidPos()``,
        ``tracker/position/EntryPosition.java:302-331``) and, on MySQL
        errno 1236 (position purged / beyond head), deletes the ZK
        checkpoint and reloads from the live head
        (``HandlerMagpieKafka.java:584-594``). Here: the committed
        watermark must fall inside the retained input's (file,pos)
        range. If it does not:

        * ``reset_policy="fail"`` (default): raise — an operator must
          decide, because resetting silently breaks at-least-once.
        * ``reset_policy="earliest"``: clear the watermark and replay
          everything retained (the reference's delete-checkpoint path;
          idempotent MERGE makes the replay safe, so unlike the
          reference this loses nothing that is still retained).

        Probe cost: the retained (file,pos) range is derived from the
        FIRST and LAST input files in manifest order (batch file names
        are offset-ordered by construction — the same invariant
        ``batch_files`` and binlog rotation rely on everywhere), so the
        probe reads ≤2 files however long the retention window is — at
        10^10-event retention a full listing scan on every startup
        would be the wrong shape. ``deep=True`` keeps the exhaustive
        all-files scan for audits of the ordering invariant itself.

        Returns {valid, wm, lo, hi, action}.
        """
        if self.table is None:
            self.prepare()
        wm_file, wm_pos, _ = self.watermark()
        if wm_file is None:
            return {"valid": True, "wm": None, "action": "none"}
        files = [p for g in self.batch_files() for p in g]
        if not files:
            return {"valid": False, "wm": (wm_file, wm_pos), "action": "no-input"}
        cols = ["file", "pos"]
        probe_files = files if deep else [files[0], files[-1]]
        if self.source_format == "jsonl":
            # C5/C7 must work for every ingest format: jsonl batches
            # are not parquet — probe them with the same schema-first
            # read apply_batch uses
            # NB: .json() takes a path LIST — positional *args would
            # bind the second path to the schema parameter
            probe = self.spark.read.schema(CHANGE_EVENT_SCHEMA).json(list(probe_files))
        else:
            probe = self.spark.read.parquet(*probe_files)
        rng = (
            probe
            .select(*cols)
            .agg(
                F.min(F.struct(*cols)).alias("lo"), F.max(F.struct(*cols)).alias("hi")
            )
            .collect()[0]
        )
        lo = (rng["lo"]["file"], rng["lo"]["pos"])
        hi = (rng["hi"]["file"], rng["hi"]["pos"])
        wm = (wm_file, wm_pos)
        # file-granular validity, faithful to MySQL: binlog retention
        # purges whole FILES, and a dump request for a purged file (or
        # a position beyond the head) is errno 1236 — even when
        # everything purged was already applied. Valid iff the
        # watermark's file is still retained and the position is not
        # beyond the retained head.
        valid = wm_file >= lo[0] and wm <= hi
        n_probe = len(probe_files)
        if valid:
            return {"valid": True, "wm": wm, "lo": lo, "hi": hi, "action": "none",
                    "probe_files": n_probe}
        if reset_policy == "earliest":
            self.table.set_properties({"offset_file": "", "offset_pos": ""})
            # empty strings read back as no watermark
            return {"valid": False, "wm": wm, "lo": lo, "hi": hi, "action": "reset",
                    "probe_files": n_probe}
        raise ValueError(
            f"committed watermark {wm} outside retained input range [{lo}, {hi}] "
            "(reference errno-1236 analogue); pass reset_policy='earliest' to "
            "clear the checkpoint and replay retained input"
        )

    def _handle_ddl(self, ddl_rows) -> tuple[str, int] | None:
        """Apply a batch's DDL rows (already sorted in log order) with
        the full reference event-class vocabulary
        (``SimpleDdlParser.java:36-80``):

        * ADD_COLUMN / WIDEN: schema evolution before the batch's DML
          (order-equivalent for add/widen — runner module docstring);
        * TRUNCATE of the target: an atomic empty-overwrite commit;
          returns the truncate (file, pos) so the caller discards
          same-batch DML at or before it — equivalent to interleaved
          application (everything applied before a truncate is wiped by
          it). Replay-safe: truncate is idempotent and the watermark
          only advances with the batch's final merge commit.
        * DROP / RENAME of the target: RAISE by default — silently
          continuing would apply subsequent DML to a table that no
          longer exists under this identity (``on_destructive_ddl=
          "ignore"`` skips them, the reference's own behavior: it only
          invalidates its meta cache, ``LogEventConvert.java:220-230``).
        * CREATE / CINDEX / DINDEX / OTHER: no-op for the target.

        Idempotent under replay: re-applied ADD/WIDEN are no-ops,
        re-TRUNCATE of an empty table commits another empty snapshot.
        """
        from .ddl import evolve_schema, parse_ddl_clauses

        trunc_fp: tuple[str, int] | None = None
        for row in ddl_rows:
            sql = row["ddl_sql"]
            if not sql:
                continue
            # MySQL allows comma-separated clause lists in one ALTER —
            # apply EVERY recognized clause in statement order (first-
            # clause-only would silently half-evolve the schema)
            for parsed in parse_ddl_clauses(sql, self.schema_name):
                trunc_fp = self._apply_ddl_clause(parsed, row, sql, trunc_fp)
        return trunc_fp

    def _apply_ddl_clause(self, parsed, row, sql, trunc_fp):
        from .ddl import evolve_schema

        """Apply one parsed DDL clause; returns the (possibly
        updated) truncate fence."""
        targets = (
            parsed.schema_name == self.schema_name
            and parsed.table_name == self.table_name
        )
        if parsed.kind in ("ADD_COLUMN", "WIDEN"):
            if targets:
                new_schema = evolve_schema(self.table.schema(), parsed)
                if new_schema is not None:
                    self.table.update_schema(new_schema, note=sql)
        elif parsed.kind == "DROP_COLUMN" and targets:
            # payload drop = plain schema evolution (old files keep
            # the bytes; the target schema simply stops selecting
            # the column — no rewrite). KEY-column drop destroys
            # the apply identity — operator decision.
            if parsed.column in self.key_cols:
                if self.on_destructive_ddl == "ignore":
                    return trunc_fp
                raise RuntimeError(
                    f"DROP of key column {parsed.column!r} at "
                    f"({row['file']}, {row['pos']}): {sql!r} — the "
                    "apply keys events by "
                    f"{tuple(self.key_cols)}; retarget the job or "
                    "pass on_destructive_ddl='ignore'."
                )
            new_schema = evolve_schema(self.table.schema(), parsed)
            if new_schema is not None:
                self.table.update_schema(new_schema, note=sql)
        elif parsed.kind == "RENAME_COLUMN" and targets:
            # payload rename = metadata-only evolution (old files
            # map through the rename chain on read; same-batch
            # pre-rename events coalesce via column_aliases).
            # KEY-column rename changes the apply identity (events
            # are keyed by fixed key_cols) — operator decision,
            # like DROP/RENAME TABLE.
            if parsed.column in self.key_cols:
                if self.on_destructive_ddl == "ignore":
                    return trunc_fp
                raise RuntimeError(
                    f"RENAME of key column {parsed.column!r} at "
                    f"({row['file']}, {row['pos']}): {sql!r} — the "
                    "apply keys events by "
                    f"{tuple(self.key_cols)}; retarget the job or "
                    "pass on_destructive_ddl='ignore'."
                )
            cur = {f.name for f in self.table.schema().fields}
            if parsed.column in cur and parsed.new_name not in cur:
                self.table.rename_column(
                    parsed.column, parsed.new_name, note=sql
                )
            # CHANGE old new TYPE may widen too — apply after
            if parsed.new_type is not None:
                from .ddl import DdlResult

                widen = evolve_schema(
                    self.table.schema(),
                    DdlResult(
                        "WIDEN", parsed.schema_name, parsed.table_name,
                        parsed.new_name, parsed.new_type,
                    ),
                )
                if widen is not None:
                    self.table.update_schema(widen, note=sql)
        elif parsed.kind == "TRUNCATE" and targets:
            self.table.truncate()
            trunc_fp = (row["file"], row["pos"])
        elif parsed.kind in ("DROP", "RENAME") and targets:
            if self.on_destructive_ddl == "ignore":
                return trunc_fp
            raise RuntimeError(
                f"{parsed.kind} against the target table "
                f"{self.schema_name}.{self.table_name} at "
                f"({row['file']}, {row['pos']}): {sql!r} — refusing to "
                "continue applying DML to a dropped/renamed identity. "
                "Pass on_destructive_ddl='ignore' to skip (reference "
                "behavior) or retarget the job."
            )
        return trunc_fp

    def _quarantine(self, raw_f: DataFrame, batch_id: int) -> int:
        """Dead-letter audit for the wire path: persist this batch's
        corrupt frames (past the fence) verbatim with a reason, return
        the count. The write is NOT inside the snapshot commit — a
        crash between quarantine write and commit can double-write a
        batch's bad frames on replay, which ``read_quarantine`` dedups
        on (file, pos) at read time (audit artifact, not table state).
        Cost when enabled: one extra Arrow scan per batch; clean frames
        transfer zero rows."""
        import shutil
        import uuid

        from .sources.wire import quarantine_frames

        sub = os.path.join(
            self.quarantine_dir, f"batch-{batch_id:05d}-{uuid.uuid4().hex[:8]}"
        )
        quarantine_frames(raw_f).write.parquet(sub)
        n = _parquet_dir_rows(sub)
        if n == 0:
            shutil.rmtree(sub, ignore_errors=True)
        return n

    def _stream_filters(self, df: DataFrame) -> DataFrame:
        """F1/F2 predicates from the job config (no-ops when unset;
        redundant with the single-target ``dml_for_table`` gate but
        wired so a configured filter is honored in-plan, not ignored)."""
        from .operators.filters import allowlist_filter, regex_name_filter

        if self.filter_regex is not None:
            df = regex_name_filter(df, self.filter_regex)
        if self.allowlist is not None:
            df = allowlist_filter(df, self.allowlist)
        if self.gtid_list is not None and "gtid" in df.columns:
            from .sources.mariadb_events import after_mariadb_gtid_list

            df = after_mariadb_gtid_list(df, self.gtid_list)
        if self.gtid_set is not None and "gtid" in df.columns:
            from .operators.parse import after_gtid_set

            df = after_gtid_set(df, self.gtid_set)
        return df

    def _wire_gtid_fence(self, raw_f: DataFrame, dml: DataFrame) -> DataFrame:
        """Wire-path GTID fencing — the wire twin of
        ``operators.parse.after_gtid_set`` / ``after_mariadb_gtid_list``
        (round-4 VERDICT item 5). The wire body carries no per-row gtid
        field, but GTID control frames (MySQL GTID_LOG_EVENT 33 /
        MariaDB GTID 162) OPEN each transaction and carry the gtid text
        (body ``ddl_sql`` field) plus the group's xid: the executed-set
        predicate runs on that tiny per-transaction projection, and the
        fenced xids are anti-joined out of the decoded DML. Scale shape:
        the predicate is constant, the GTID projection is ~n_txns rows
        of (long, short string), and AQE broadcasts the anti-join's
        small side; zero cost when no fence is configured (the common
        case — this method is then an identity)."""
        if self.gtid_set is None and self.gtid_list is None:
            return dml
        from .sources.wire import FIELD_SEP

        body = F.decode(
            F.expr("substring(payload, 20, length(payload)-23)"), "UTF-8"
        )
        # body fields: op|xid|row_idx|schema|table|is_ddl|ddl_sql|...
        xid = F.substring_index(
            F.substring_index(body, FIELD_SEP, 2), FIELD_SEP, -1
        ).cast("long")
        gtid = F.substring_index(
            F.substring_index(body, FIELD_SEP, 7), FIELD_SEP, -1
        )
        is_gtid_frame = F.expr("substring(payload, 5, 1) IN (X'21', X'A2')")
        gt = raw_f.filter(is_gtid_frame).select(
            xid.alias("xid"), gtid.alias("gtid")
        )
        inside = F.lit(False)
        if self.gtid_set is not None:
            from .operators.parse import gtid_inside_predicate

            inside = inside | gtid_inside_predicate(self.gtid_set)
        if self.gtid_list is not None:
            from .sources.mariadb_events import (
                gtid_list_fence,
                mariadb_gtid_inside_predicate,
            )

            fence = gtid_list_fence(self.gtid_list)
            if fence:
                is_maria, m_inside = mariadb_gtid_inside_predicate(fence)
                inside = inside | (is_maria & m_inside)
        fenced = (
            gt.filter(F.col("gtid").isNotNull() & inside)
            .select("xid")
            .distinct()
        )
        # --- cross-batch open-group carry --------------------------------
        # A transaction can SPAN a micro-batch boundary: its GTID frame
        # lands in batch k, its tail DML rows in batch k+1 — invisible
        # to k+1's per-batch GTID projection. Binlog event groups are
        # SEQUENTIAL (the binary log serializes transactions at commit
        # time; groups never interleave), so at most ONE group is open
        # at any boundary: carry exactly that group's xid forward when
        # it is fenced. The carry is persisted in the commit properties
        # (``gtid_fence_carry``) atomically with the watermark, so a
        # restarted replay resumes with the same fence state
        # (exactly-once contract). Cost: one tiny driver-side agg over
        # the already-read raw frames per batch, only when a fence is
        # configured.
        carry_in = self._gtid_fence_carry()
        if carry_in is not None:
            fenced = fenced.unionByName(
                self.spark.createDataFrame([(carry_in,)], "xid long")
            ).distinct()
        fp = F.struct("file", "pos")
        is_commit = F.expr("substring(payload, 5, 1) = X'10'")
        b = raw_f.select(
            F.when(is_gtid_frame, fp).alias("gfp"),
            F.when(is_gtid_frame, xid).alias("gxid"),
            F.when(is_gtid_frame, gtid).alias("ggtid"),
            F.when(is_commit, fp).alias("cfp"),
        ).agg(
            F.max_by(
                F.struct("gxid", "ggtid"), F.when(F.col("gfp").isNotNull(), F.col("gfp"))
            ).alias("last_g"),
            F.max("gfp").alias("last_gfp"),
            F.max("cfp").alias("last_cfp"),
        ).collect()[0]
        if b["last_gfp"] is None:
            # no GTID frame in this batch: the carried group stays open
            # unless a COMMIT closed it
            carry_out = None if b["last_cfp"] is not None else carry_in
        elif b["last_cfp"] is not None and tuple(b["last_cfp"]) >= tuple(b["last_gfp"]):
            carry_out = None  # last group committed inside the batch
        else:
            g = b["last_g"]
            carry_out = (
                int(g["gxid"])
                if g is not None
                and g["gxid"] is not None
                and self._gtid_text_inside(g["ggtid"])
                else None
            )
        # STAGED, not committed: the in-memory carry cache is promoted
        # only after this batch's snapshot commit succeeds (review fix:
        # a failed batch must not poison the cache — its retry re-reads
        # the last COMMITTED carry from _gtid_fence_carry())
        self._gtid_carry_pending = carry_out
        return dml.join(fenced, "xid", "left_anti")

    _GTID_CARRY_UNSET = object()

    def _gtid_fence_carry(self) -> int | None:
        """The open fenced group carried into the CURRENT batch: driver
        state within a run, re-read from the committed properties after
        a restart (enable fences from a txn-aligned checkpoint — a
        fence turned on mid-replay has no carry history)."""
        carry = getattr(self, "_gtid_carry", self._GTID_CARRY_UNSET)
        if carry is not self._GTID_CARRY_UNSET:
            return carry
        p = self.table.properties() if self.table is not None else {}
        v = p.get("gtid_fence_carry") or ""
        return int(v) if v else None

    def _gtid_text_inside(self, gtid: str | None) -> bool:
        """Driver-side twin of the fence predicates for ONE gtid text —
        used only for the single open-group carry decision. Both forms
        evaluate against structures built by the SAME parsers the
        Column predicates use (``parse_gtid_set`` / ``gtid_list_fence``
        — review fix: no third hand-rolled parser to drift), so a
        malformed CONFIG fails at job build, and a malformed gtid TEXT
        in a frame simply doesn't match (same null/shape tolerance as
        the predicates)."""
        if not gtid:
            return False
        if self.gtid_list is not None:
            from .sources.mariadb_events import gtid_list_fence

            bits = gtid.split("-")
            if len(bits) == 3 and all(b.isdigit() for b in bits):
                fence = gtid_list_fence(self.gtid_list)
                d, _s, q = (int(x) for x in bits)
                if d in fence and q <= fence[d]:
                    return True
        if self.gtid_set is not None and ":" in gtid:
            from .operators.parse import parse_gtid_set

            uuid_part, txn_part = gtid.split(":", 1)
            try:
                txn = int(txn_part)
            except ValueError:
                return False
            for lo, hi in parse_gtid_set(self.gtid_set).get(uuid_part, []):
                if lo <= txn <= hi:
                    return True
        return False

    INPUT_MANIFEST = "_batches.json"

    def batch_files(self) -> list[list[str]]:
        """Pending input files in log order, grouped into micro-batches.

        If the input dir carries a ``_batches.json`` manifest (written
        by the producer via :func:`write_input_manifest` or an upstream
        committer), it is the AUTHORITY: membership and order come from
        it, and files not (yet) referenced are invisible — the input-
        side analogue of Iceberg manifests. At real scale this is the
        right interface: object-store directory listings are slow,
        unordered, and racy against still-arriving files, while a
        manifest is one small read and a producer-controlled commit
        point. Without a manifest, falls back to a sorted local
        directory listing (file names are offset-ordered by
        construction)."""
        man = os.path.join(self.input_dir, self.INPUT_MANIFEST)
        ext = ".jsonl" if self.source_format == "jsonl" else ".parquet"
        if os.path.exists(man):
            with open(man) as f:
                names = json.load(f)["files"]
            # the manifest may span formats (write_input_manifest(
            # files=None) snapshots both batch extensions so a mixed
            # producer dir round-trips); this job consumes only its own
            # — a foreign entry would crash the parquet reader on jsonl
            # or silently null out parquet under the json reader
            files = [
                os.path.join(self.input_dir, p)
                for p in names
                if p.endswith(ext)
            ]
        else:
            files = sorted(
                os.path.join(self.input_dir, f)
                for f in os.listdir(self.input_dir)
                if f.endswith(ext)
            )
        k = self.files_per_batch
        return [files[i : i + k] for i in range(0, len(files), k)]

    def run(self, max_batches: int | None = None) -> list[ApplyStats]:
        """O1 run loop: apply every pending micro-batch in order.
        ``max_batches`` lets tests kill the job mid-stream (O2 replay)."""
        if self.table is None:
            self.prepare()
        if self.reset_policy is not None:
            self.validate_position(self.reset_policy)
        groups = self.batch_files()
        pool = None
        if (
            self.pipeline_prefetch
            and self.source_format == "wire"
            and len(groups) > 1
            # GTID fencing threads open-group carry state batch-to-batch
            # (_wire_gtid_fence): batch k+1's fence needs batch k's
            # carry-out, so speculative winners would race it — run
            # synchronously under a fence (opt-in replay feature; the
            # steady state has no fence and keeps the pipeline)
            and self.gtid_set is None
            and self.gtid_list is None
        ):
            from concurrent.futures import ThreadPoolExecutor

            pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="mts-prefetch"
            )
        out = []
        try:
            for i, group in enumerate(groups):
                if max_batches is not None and len(out) >= max_batches:
                    break
                if (
                    pool is not None
                    and i + 1 < len(groups)
                    and (max_batches is None or len(out) + 1 < max_batches)
                ):
                    self._submit_prefetch(pool, i + 1, groups[i + 1])
                out.append(self.apply_batch(i, group))
            return out
        finally:
            if pool is not None:
                pool.shutdown(wait=True, cancel_futures=True)
            # unconsumed speculations (abort mid-run, max_batches cut):
            # reap their winners staging dirs — a long-lived job calling
            # run() again never re-runs prepare()'s debris sweep
            import shutil as _sh

            for bid in list(self._prefetch):
                _sh.rmtree(self._winners_dir(bid), ignore_errors=True)
            self._prefetch.clear()

    def _submit_prefetch(self, pool, batch_id: int, paths: list[str]) -> None:
        """Schedule the NEXT batch's manifest pass — and, when the
        batch is eligible (non-empty, no quarantine sink, no fence
        overlap at submit), its decode->LWW winners materialization —
        on the helper thread, concurrently with the current batch's
        projection+merge (Spark sessions are thread-safe). DDL does
        NOT gate speculation: the winners are schema-free; the consume
        side rejects the speculation only on a TRUNCATE or a fence
        overlap. Captures the watermark AND the auto-skew state in
        force at submit time — the consumer revalidates the fence
        after the intervening commit, and the captured skew state
        makes the speculated LWW variant deterministic (documented
        one-batch escalation lag)."""
        wm = self.watermark()[:2]
        fut = pool.submit(
            self._prefetch_work, batch_id, paths, wm, self._escalated
        )
        self._prefetch[batch_id] = (fut, wm)

    def _prefetch_work(self, batch_id: int, paths: list[str], wm, escalated: bool):
        """Helper-thread body: manifest pass, then (when safe) the
        speculative winners, materialized under ``_winners_<batch_id>``
        so the consume side adopts them instead of recomputing the
        decode+shuffle. Any failure in the speculative part degrades to
        the synchronous path at consume time."""
        import shutil

        src = _WireSource(self, paths)
        m = src.manifest(wm)
        if m.n and self.quarantine_dir is None and (wm[0] is None or wm < m.lo):
            scratch = ApplyStats(batch_id=batch_id)
            wdir = self._winners_dir(batch_id)
            try:
                latest = self._winners(src, m, wm, None, scratch, escalated)
                shutil.rmtree(wdir, ignore_errors=True)
                t1 = time.time()
                latest.write.parquet(wdir)
                scratch.phase_ms["lww"] = _ms_since(t1)
                m.speculation = scratch
            except Exception:
                shutil.rmtree(wdir, ignore_errors=True)
        return m

    # ----------------------------------------------------------- micro-batch

    def apply_batch(self, batch_id: int, paths: list[str]) -> ApplyStats:
        """Apply one micro-batch of input files exactly once — shared by
        the replay loop and the Structured Streaming front-end.

        The source contributes two stages (:class:`_TypedSource`,
        :class:`_WireSource`): ``manifest()``, ONE pass over the batch
        for its offset range (C1/C2 fence), txn boundary (B4),
        past-fence DML count (M1), lag timestamp (M3), PK-move flag and
        the rare DDL / INCIDENT rows; and ``keyed_changes()``, the
        fenced and filtered change rows. The rest is one chain for
        every source: incident gate -> DDL -> PK-move explode -> LWW ->
        typed projection -> transform / expectations -> bucket-aligned
        staged delta -> COW merge or MoR adopt through the audit gate ->
        epilogue (compaction, lag, growth, expiry, lineage).

        Deliberately NO .cache() anywhere: caching the batch thrashes
        the memory store under high thread counts (measured 5x
        slowdown at local[32]); the staged delta is the batch's one
        materialization, so the merge never recomputes the decode or
        the LWW shuffle."""
        import shutil

        if self.table is None:
            self.prepare()
        t0 = time.time()
        stats = ApplyStats(batch_id=batch_id)
        wm = self.watermark()[:2]
        src = (_WireSource if self.source_format == "wire" else _TypedSource)(
            self, paths
        )
        wdir = self._winners_dir(batch_id)
        try:
            m = src.manifest(wm, self._prefetch.pop(batch_id, None))
            if m.prefetched:
                stats.phase_ms["manifest_prefetched"] = 1
            stats.phase_ms["manifest"] = _ms_since(t0)
            stats.rows_in = m.n
            if m.n == 0:
                stats.skipped = True
                return stats
            stats.file_start, stats.pos_start = m.lo
            stats.file_end, stats.pos_end = m.hi
            stats.bytes_in = m.bytes_in
            if m.txn_hi is not None:
                stats.txn_file_end, stats.txn_pos_end = m.txn_hi
            if wm[0] is not None and m.hi <= wm:
                stats.skipped = True
                stats.wall_ms = _ms_since(t0)
                return stats

            # C5 incident gate: BEFORE any apply work
            if m.incidents:
                if self.incident_policy == "fail":
                    raise IncidentError(m.incidents)
                stats.incidents = m.incidents
            stats.heartbeat_ts = m.heartbeat_ts
            trunc_fp = self._handle_ddl(m.ddl_rows) if m.ddl_rows else None

            # LWW winners: ADOPT the prefetch thread's materialized
            # winners when its manifest was accepted (identical fenced
            # row set) and no TRUNCATE discards a prefix of this batch —
            # the winners are schema-free, so the batch's own additive/
            # rename DDL, applied just above, never invalidates them.
            # Otherwise ONE lazy pipeline feeds the projection directly.
            spec = m.speculation
            if spec is not None and trunc_fp is None and os.path.isdir(wdir):
                stats.phase_ms.update(spec.phase_ms)
                stats.phase_ms["winners_prefetched"] = 1
                stats.lww_variant = spec.lww_variant
                latest = self.spark.read.parquet(wdir)
            else:
                latest = self._winners(src, m, wm, trunc_fp, stats)
            delta_dir, nb = self._stage_delta(
                batch_id, latest, src.keys.as_map, stats
            )
        finally:
            shutil.rmtree(wdir, ignore_errors=True)
        t1 = time.time()

        # LWW winners from the delta files' parquet FOOTERS (driver
        # metadata reads, no Spark job) -> collapse ratio -> auto skew
        # escalation decision for the NEXT batch (see AUTO_SALT_RATIO)
        stats.rows_winners = _parquet_dir_rows(delta_dir)
        if self.n_salts == 0 and stats.rows_winners:
            self._escalated = m.n_dml / stats.rows_winners >= self.AUTO_SALT_RATIO

        props = {
            "offset_file": stats.file_end,
            "offset_pos": str(stats.pos_end),
            "batch_seq": str(batch_id),
        }
        fenced = self.gtid_set is not None or self.gtid_list is not None
        if fenced:
            # open-group fence carry, atomic with the watermark (see
            # _wire_gtid_fence; staged when the winners plan was built)
            carry = getattr(self, "_gtid_carry_pending", None)
            props["gtid_fence_carry"] = "" if carry is None else str(carry)
        if stats.txn_file_end is not None:
            props["txn_end_file"] = stats.txn_file_end
            props["txn_end_pos"] = str(stats.txn_pos_end)
        if paths:
            # input-side cursor: the last (name-ordered) input file this
            # commit covers — the streaming front-end skips groups at or
            # below it without re-reading them
            props["input_file_end"] = max(os.path.basename(p) for p in paths)
        # affected buckets = the staged delta's own directory listing
        # (tombstones included: a PK-moving UPDATE's old-key bucket must
        # be rewritten too, or merge() carries the ghost row forward)
        affected = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(delta_dir)
            if d.startswith("__bucket=")
        )
        stats.write_mode = self.write_mode
        if not affected:
            stats.snapshot_version = self.table.set_properties(props)
        else:
            if self.write_mode == "mor":
                # merge-on-read: the staged bucket-partitioned delta IS
                # the commit — one rename + manifest append, zero Spark
                # jobs; per-batch cost never sees the table size
                def commit(wap):
                    return self.table.adopt_delta(
                        delta_dir, properties=props, stage_as=wap,
                        base_n_buckets=nb,
                    )
            else:
                # count_upserts=False: rows_applied comes from the
                # manifest pass (the reference's persisNum semantics); a
                # merge-side Observation deadlocks under foreachBatch
                delta = self.spark.read.parquet(delta_dir).drop("__bucket")

                def commit(wap):
                    return self.table.merge(
                        self.spark, delta, properties=props,
                        affected_buckets=affected, count_upserts=False,
                        stage_as=wap,
                    )

            stats.snapshot_version, summary = self._commit_with_audit(
                commit, stats
            )
            stats.bucket_rows = summary.get("bucket_rows")
        shutil.rmtree(delta_dir, ignore_errors=True)
        if fenced:
            # the commit persisting the staged carry succeeded — NOW
            # promote it to the in-memory cache the next batch reads
            self._gtid_carry = getattr(self, "_gtid_carry_pending", None)
        stats.phase_ms["merge"] = _ms_since(t1)

        if self.write_mode == "mor":
            self._maybe_compact(stats)
        stats.rows_applied = m.n_dml
        stats.wall_ms = _ms_since(t0)
        if m.max_ts_s is not None:
            stats.lag_s = time.time() - m.max_ts_s
        self._maybe_grow(stats)
        if self.expire_keep_last is not None:
            self.table.expire_snapshots(keep_last=self.expire_keep_last)
        self._append_lineage(stats)
        return stats

    def _winners_dir(self, batch_id: int) -> str:
        return os.path.join(
            self.table_path, f"_winners_{self._run_id}_{batch_id}"
        )

    def _winners(
        self, src, m, wm, trunc_fp, stats: ApplyStats, escalated: bool | None = None
    ) -> DataFrame:
        """The batch's LWW winners frame, LAZY: the source's keyed
        change rows -> PK-move explode -> LWW. Deliberately SCHEMA-FREE
        (the payload is the raw row image), so the prefetch thread can
        materialize it before the batch's DDL runs; only a TRUNCATE
        (which discards a prefix of the batch pre-LWW) invalidates that
        speculation. ``escalated`` overrides the auto-skew state (the
        prefetch submit-time snapshot, so the speculated variant is
        deterministic — not a helper-thread race with the current
        batch's consume)."""
        dml = src.keyed_changes(wm, trunc_fp, stats)
        keyed = self._explode_moves(dml, src.keys, m.has_moves)
        if escalated is None:
            escalated = self._escalated
        return self._lww(keyed, src.keys.payload, stats, escalated)

    def _explode_moves(self, dml: DataFrame, keys: _Keys, has_moves: bool) -> DataFrame:
        """Key each change row for LWW. A batch with no PK-moving
        UPDATE (manifest flag) keeps the zero-overhead plan: keys
        straight off ``keys.key``. Otherwise a PK-MOVING UPDATE (MySQL
        RBR row identity = before image) also emits a tombstone under
        its OLD key at the same log position, or the old row survives
        as a ghost. Emitted via explode of a 1-2 element struct array,
        so the batch is scanned (and a wire batch decoded) ONCE — a
        union of two selects over ``dml`` would run the source twice.
        The tombstone's payload only needs to keep the projection well
        typed: merge keys deletes on key_cols."""
        k0, k1 = self.key_cols
        pay = keys.payload

        def key(pair):
            return pair[0].alias(k0), pair[1].cast("int").alias(k1)

        if not has_moves:
            return dml.select(*key(keys.key), *LOG_ORDER, "op", pay)
        upsert = F.struct(
            *key(keys.upsert), F.col("op").alias("op"), F.col(pay).alias(pay)
        )
        tomb = F.struct(
            *key(keys.old), F.lit("DELETE").alias("op"), keys.old_payload.alias(pay)
        )
        return dml.select(
            *LOG_ORDER,
            F.explode(
                F.when(keys.is_move, F.array(tomb, upsert)).otherwise(F.array(upsert))
            ).alias("__e"),
        ).select(f"__e.{k0}", f"__e.{k1}", *LOG_ORDER, "__e.op", f"__e.{pay}")

    def _lww(
        self, keyed: DataFrame, payload: str, stats: ApplyStats, escalated: bool
    ) -> DataFrame:
        """LWW dedup: one row per key, the payload of the event latest
        in log order; records the variant that ran."""
        cols = ["op", payload]
        if self.n_salts > 0 or escalated:
            # explicit two-phase salted LWW: configured (n_salts), or
            # AUTO skew escalation — the previous batch's collapse ratio
            # crossed AUTO_SALT_RATIO, a single-key flood regime where
            # it measures ~1.5x faster than the default kernels (BENCH/
            # BASELINE.md hot-key section). Semantics identical
            # (property-tested); de-escalates as soon as a batch's ratio
            # drops back under the threshold.
            from .operators.dedup import lww_latest_salted

            n = self.n_salts or self.AUTO_SALTS
            stats.lww_variant = f"salted{n}" if self.n_salts else f"auto_salted{n}"
            return lww_latest_salted(keyed, self.key_cols, cols, n)
        if payload == "after_kv":
            # packed kv string: packed-argmax partial+final aggregation,
            # hot keys collapse map-side instead of flooding one shuffle
            # task (see operators.dedup.lww_latest_packed)
            from .operators.dedup import lww_latest_packed

            stats.lww_variant = "packed"
            return lww_latest_packed(keyed, self.key_cols)
        # typed map payload: max_by over struct payloads is NOT
        # hash-aggregable (struct agg buffers fall back to
        # SortAggregate), so the default partial+final plan SORTS the
        # whole batch twice. Repartition by the grouping keys first: the
        # groupBy reuses the exchange and runs ONE sort + one
        # aggregation pass (measured 28% faster end-to-end at 32 cores).
        stats.lww_variant = "max_by"
        keyed = keyed.repartition(*[F.col(c) for c in self.key_cols])
        return lww_latest(keyed, self.key_cols, cols)

    def _stage_delta(
        self, batch_id: int, latest: DataFrame, as_map, stats: ApplyStats
    ) -> tuple[str, int]:
        """Typed projection of the LWW winners under the CURRENT
        (post-DDL) schema -> ingest transform -> data-quality gate ->
        bucket-aligned staged delta. ``as_map`` reads the winners'
        payload as map<string,string>. Returns the staged delta dir and
        the bucket count the write used."""
        import shutil

        from .lakestore.table import _bucket_expr

        # ONE manifest read for schema AND layout: two reads could
        # straddle a concurrent commit (split_buckets from another
        # process) and plan the projection under one snapshot with the
        # bucket count of the next (the hazard table._schema_of
        # documents)
        m_snap = self.table.manifest()
        schema = LakeTable._schema_of(m_snap)
        nb = m_snap["n_buckets"]
        non_key = [f for f in schema.fields if f.name not in self.key_cols]
        changes = latest.select(
            *self.key_cols,
            *typed_from_map(
                as_map, T.StructType(non_key), aliases=self.table.column_aliases()
            ),
            (F.col("op") == "DELETE").alias("__delete"),
        )
        changes = self._apply_transform(changes).withColumn(
            "__bucket", _bucket_expr(self.key_cols[0], nb)
        )
        self._gate_expectations(changes, stats)
        delta_dir = os.path.join(
            self.table_path, f"_delta_{self._run_id}_{batch_id}"
        )
        shutil.rmtree(delta_dir, ignore_errors=True)
        t1 = time.time()
        # repartition by the bucketing KEY with numPartitions=n_buckets:
        # partition i == bucket i (see _bucket_expr), so each task
        # writes exactly one file into one bucket dir. Without this
        # every task writes every bucket dir (tasks x buckets small
        # files) and the file explosion compounds into thousands of
        # scan tasks downstream (measured: 97% wait at 32 cores).
        changes.repartition(nb, F.col(self.key_cols[0])).write.partitionBy(
            "__bucket"
        ).parquet(delta_dir)
        stats.phase_ms["delta"] = _ms_since(t1)
        return delta_dir, nb

    def _resolved_sort_by(self):
        """The job's ``compact_sort_by`` resolved through any applied
        RENAME COLUMN; None (with a warning) if a column no longer
        exists (dropped / typo) — maintenance compactions then fall
        back to unclustered rather than crashing the apply loop."""
        sort_by = self.compact_sort_by
        if not sort_by:
            return None
        current = {f.name for f in self.table.schema().fields}
        aliases = self.table.column_aliases()
        cols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        resolved = []
        for c in cols:
            if c in current:
                resolved.append(c)
                continue
            hit = next(
                (cur for cur, old in aliases.items() if c in old), None
            )
            if hit is not None:
                resolved.append(hit)
        if len(resolved) != len(cols):
            import warnings

            warnings.warn(
                f"compact_sort_by={cols!r} not resolvable against "
                f"schema {sorted(current)} — compacting unclustered",
                stacklevel=2,
            )
            return None
        return resolved[0] if len(resolved) == 1 else resolved

    def _maybe_grow(self, stats: ApplyStats) -> None:
        """Autonomous layout growth (``auto_split_rows_per_bucket``):
        the 10^10-event service outgrows any fixed bucket count, so the
        runner grows it unattended. After each commit: if a split
        migration is in flight, materialize a BOUNDED slice of the
        shared backlog (``auto_split_migrate_per_batch`` buckets — the
        per-batch tax is capped, and COW merges migrate their own
        touched children for free); otherwise, when mean live
        rows/bucket exceeds the threshold, double the bucket count with
        a metadata-only ``split_buckets`` (O(1) at any size, picked up
        by the next batch's merge). Migration rewrites honor the job's
        configured clustering (``compact_sort_by``), so file-skipping
        bounds survive the move. The heuristic row count folds from
        manifest footer stats — delta entries overcount superseded
        rows slightly, which only makes growth marginally eager.
        Like compaction, growth is maintenance, not correctness: any
        optimistic-commit race just defers it to a later batch."""
        if self.auto_split_rows_per_bucket is None:
            return
        from .lakestore import CommitConflictError

        shared = self.table.shared_buckets()
        if shared:
            step = shared[: self.auto_split_migrate_per_batch]
            try:
                _, done = self.table.compact(
                    self.spark,
                    bucket_ids=step,
                    sort_by=self._resolved_sort_by(),
                    files_per_bucket=self.compact_files_per_bucket,
                )
            except (FileExistsError, CommitConflictError):
                return
            stats.migrated_buckets = done
            return
        m = self.table.manifest()
        rows = sum(
            fe.get("rows") or 0
            for fs in m["buckets"].values()
            for fe in fs
        )
        nb = m["n_buckets"]
        if rows / nb <= self.auto_split_rows_per_bucket:
            return
        try:
            self.table.split_buckets(2)
        except (FileExistsError, CommitConflictError):
            return
        stats.split_to = nb * 2

    def _maybe_compact(self, stats: ApplyStats) -> None:
        """Bounded read amplification under merge-on-read: after a MOR
        commit, fold base+deltas back into fresh base files for every
        bucket that has accumulated ``mor_compact_threshold`` delta
        files. Amortized cost: each bucket rewrite is paid once per K
        delta commits (the LSM trade); between compactions reads see at
        most K deltas per bucket. The compaction commit carries no
        watermark change — crash between apply-commit and compaction
        loses nothing (the next run just compacts later)."""
        from .lakestore import CommitConflictError

        counts = self.table.delta_counts()
        todo = sorted(
            b for b, n in counts.items() if n >= self.mor_compact_threshold
        )
        if todo:
            try:
                _, done = self.table.compact(
                    self.spark,
                    todo,
                    sort_by=self._resolved_sort_by(),
                    files_per_bucket=self.compact_files_per_bucket,
                )
            except (FileExistsError, CommitConflictError):
                # optimistic-commit collision with a concurrent writer:
                # compaction is maintenance, not correctness — the data
                # is already committed, so just compact on a later batch
                return
            stats.compacted_buckets = done

    def _commit_with_audit(self, commit_fn, stats: ApplyStats):
        """Commit a batch through the write-audit-publish gate when
        table-level expectations are declared (else commit directly —
        zero overhead on the hot path). ``commit_fn(stage_as)`` must
        stage when given an id and commit when given None (the
        lakestore merge/adopt_delta contract). On a blocking
        violation the staged snapshot is aborted — data files reaped,
        table and watermark untouched — and the batch raises; replay
        after the fix goes through the normal fence."""
        if not self.table_expectations:
            return commit_fn(None)
        from .quality import run_expectations

        wap_id = f"batch-{stats.batch_id}-{uuid.uuid4().hex[:8]}"
        commit_fn(wap_id)
        # once the stage exists, ANY failure before publish must reap
        # it — an audit that itself errors (bad expectation SQL,
        # transient I/O) would otherwise orphan the staged manifest and
        # every data file it references, accumulating on each retry
        try:
            rows = run_expectations(
                self.table.read_staged(self.spark, wap_id),
                self.table_expectations,
            ).collect()
            stats.table_audit = {r.name: r.violations for r in rows}
            blocking = {e.name for e in self.table_expectations if e.blocking}
            failed = [r for r in rows if r.name in blocking and not r.passed]
        except Exception:
            self.table.abort_staged(wap_id)
            raise
        if failed:
            self.table.abort_staged(wap_id)
            detail = ", ".join(f"{r.name}={r.violations}" for r in failed)
            raise ValueError(
                f"post-merge table audit failed ({detail}); staged "
                f"snapshot {wap_id} aborted, watermark untouched"
            )
        return self.table.publish_staged(wap_id)

    def _apply_transform(self, changes):
        """Run the ingest transform hook (if any) over the batch's
        change set, enforcing schema discipline: the returned frame
        must carry exactly the same columns (any order) — a transform
        that drops/renames/adds columns would silently corrupt the
        merge, so that is an error, not a warning."""
        if self.transform is None:
            return changes
        cols = changes.columns
        out = self.transform(changes)
        if sorted(out.columns) != sorted(cols):
            raise ValueError(
                "ingest transform must preserve the change-set columns: "
                f"expected {sorted(cols)}, got {sorted(out.columns)}"
            )
        return out.select(*cols)

    def _gate_expectations(self, changes, stats: ApplyStats) -> None:
        """Write-audit-publish: blocking data-quality expectations
        (quality.py) run on the batch's UPSERT rows (deletes carry only
        the key, so they are exempt) BEFORE anything is committed. A
        raise leaves table and watermark untouched — after the fix the
        batch replays through the normal fence. Opt-in: the hot path
        runs zero extra jobs when no expectations are declared.
        Violation counts (blocking or not) land in the batch's stats
        and lineage row — the expectations double as a metric stream
        alongside the M1 counters."""
        if not self.expectations:
            return
        from .quality import run_expectations

        rows = run_expectations(
            changes.filter(~F.col("__delete")), self.expectations
        ).collect()
        stats.expectation_violations = {r.name: r.violations for r in rows}
        blocking = {e.name for e in self.expectations if e.blocking}
        failed = [r for r in rows if r.name in blocking and not r.passed]
        if failed:
            detail = ", ".join(f"{r.name}={r.violations}" for r in failed)
            raise ValueError(
                f"blocking data-quality expectations failed: {detail}"
            )

    # ---------------------------------------------------------------- lineage

    def _append_lineage(self, stats: ApplyStats):
        """Per-batch lineage/metrics row (FIXTURES.md §3). Observability
        only — the snapshot properties are the correctness-bearing
        checkpoint; this file is append-only JSONL like the reference's
        monitor topic (``monitor/TrackerMonitor.java:153-192``)."""
        path = os.path.join(self.table_path, "lineage.jsonl")
        rec = {
            "batch_id": stats.batch_id,
            "file_start": stats.file_start,
            "pos_start": stats.pos_start,
            "file_end": stats.file_end,
            "pos_end": stats.pos_end,
            "bytes_in": stats.bytes_in,
            "txn_file_end": stats.txn_file_end,
            "txn_pos_end": stats.txn_pos_end,
            "rows_in": stats.rows_in,
            "rows_applied": stats.rows_applied,
            "snapshot_version": stats.snapshot_version,
            "wall_ms": stats.wall_ms,
            "lag_s": stats.lag_s,
            "expectation_violations": stats.expectation_violations,
            "table_audit": stats.table_audit,
            "write_mode": stats.write_mode,
            "compacted_buckets": stats.compacted_buckets,
            "split_to": stats.split_to,
            "migrated_buckets": stats.migrated_buckets,
            "bucket_rows": stats.bucket_rows,
            # audit completeness: quarantined-frame counts (the whole
            # point of the dead-letter feature is an audit trail that
            # outlives the process), LWW observability, and the
            # replay-overlap skip flag must survive into the JSONL or
            # they exist only for the ApplyStats objects' lifetime
            "skipped": stats.skipped,
            "rows_winners": stats.rows_winners,
            "lww_variant": stats.lww_variant,
            "frames_quarantined": stats.frames_quarantined,
            "heartbeat_ts": stats.heartbeat_ts,
            "incidents": stats.incidents,
            "ts_ms": int(time.time() * 1000),
        }
        with open(path, "a") as f:
            f.write(json.dumps(rec) + "\n")


# ------------------------------------------------------------ source stages


def _ms_since(t0: float) -> int:
    return int((time.time() - t0) * 1000)


def _fp(s) -> tuple | None:
    """A (file, pos) struct value as a tuple (None stays None)."""
    return None if s is None else (s["file"], s["pos"])


def _past_fence(wm) -> Column:
    """Rows strictly beyond the committed watermark ``wm`` — the
    apply-semantics fence: replay-overlap rows at or before it are never
    applied, so counting them would report phantom rows_applied."""
    if wm[0] is None:
        return F.lit(True)
    return F.struct(F.col("file"), F.col("pos")) > F.struct(
        F.lit(wm[0]).alias("file"), F.lit(wm[1]).alias("pos")
    )


@dataclass
class _Manifest:
    """A batch's offset manifest, from its source's one manifest pass:
    everything the shared chain decides on before any decode."""

    n: int  # rows in the batch (rows_in)
    lo: tuple | None = None  # (file, pos) range
    hi: tuple | None = None
    txn_hi: tuple | None = None  # last txn boundary (B4)
    n_dml: int = 0  # past-fence target DML rows (rows_applied, M1)
    has_moves: bool = False  # any past-fence PK-moving UPDATE
    max_ts_s: float | None = None  # newest event ts, epoch s (lag, M3)
    bytes_in: int | None = None
    ddl_rows: list = field(default_factory=list)  # past-fence, log order
    incidents: list = field(default_factory=list)  # (file, pos, message)
    heartbeat_ts: float | None = None
    prefetched: bool = False  # computed ahead by the prefetch thread
    speculation: ApplyStats | None = None  # its materialized winners' stats


class _Keys(NamedTuple):
    """How a source's change rows map onto the apply keys. ``key`` is
    the key pair when the batch moved no primary key; under moves,
    ``upsert`` is the after-image key and ``old`` the row identity
    (before-image key) that a PK-moving row (``is_move``) tombstones
    with ``old_payload``. ``payload`` names the row-image column LWW
    keeps; ``as_map`` reads it as map<string,string>."""

    payload: str
    as_map: Column
    key: tuple
    upsert: tuple
    old: tuple
    old_payload: Column
    is_move: Column


class _TypedSource:
    """Typed change events (parquet, or JSON lines — the reference's
    flattened record shape as an ingest format). The manifest is an
    Observation riding the driver collect of the batch's rare DDL
    rows: one pass over the batch."""

    def __init__(self, job: CdcApplyJob, paths: list[str]):
        self.job = job
        # schema-first read: no sampling pass, absent fields are null
        reader = job.spark.read.schema(CHANGE_EVENT_SCHEMA)
        self.df = (
            reader.json(list(paths))
            if job.source_format == "jsonl"
            else reader.parquet(*paths)
        )
        k0, k1 = job.key_cols
        after = (F.element_at("after", k0), F.element_at("after", k1))
        before = (F.element_at("before", k0), F.element_at("before", k1))
        is_move = (
            (F.col("op") == "UPDATE")
            & F.col("before").isNotNull()
            & (
                (before[0] != after[0])
                | (before[1].cast("int") != after[1].cast("int"))
            )
        )
        self.keys = _Keys(
            "after", F.col("after"), after, after, before, F.col("before"), is_move
        )

    def manifest(self, wm, prefetched=None) -> _Manifest:
        from pyspark.sql import Observation

        job = self.job
        target = (F.col("schema_name") == job.schema_name) & (
            F.col("table_name") == job.table_name
        )
        applied_dml = (
            F.col("op").isin("INSERT", "UPDATE", "DELETE") & target & _past_fence(wm)
        )
        fp = F.struct("file", "pos")
        obs = Observation()
        ddl_rows = (
            self.df.observe(
                obs,
                F.min(fp).alias("lo"),
                F.max(fp).alias("hi"),
                F.count(F.lit(1)).alias("n"),
                F.max(
                    F.when(F.col("op").eqNullSafe("COMMIT") | F.col("is_ddl"), fp)
                ).alias("txn_hi"),
                F.max("ts").alias("max_ts"),
                F.count(F.when(applied_dml, 1)).alias("n_dml"),
                F.count(F.when(applied_dml & self.keys.is_move, 1)).alias("n_moves"),
            )
            .filter(F.col("is_ddl") & target)
            .select(*LOG_ORDER, "ddl_sql")
            .collect()
        )
        r = obs.get
        # the DDL rows need the fence too: a partial-overlap replay must
        # not re-execute an already-committed TRUNCATE/ALTER (it would
        # wipe rows whose DML is fenced out and never re-applied). Sort
        # driver-side: an orderBy would add a range-partitioning
        # sampling job, evaluating the observe node twice
        ddl_rows = sorted(
            (d for d in ddl_rows if wm[0] is None or (d["file"], d["pos"]) > wm),
            key=lambda d: (d["file"], d["pos"], d["row_idx"]),
        )
        return _Manifest(
            n=r["n"],
            lo=_fp(r["lo"]),
            hi=_fp(r["hi"]),
            txn_hi=_fp(r["txn_hi"]),
            n_dml=r["n_dml"],
            has_moves=bool(r["n_moves"]),
            max_ts_s=r["max_ts"].timestamp() if r["max_ts"] is not None else None,
            ddl_rows=ddl_rows,
        )

    def keyed_changes(self, wm, trunc_fp, stats: ApplyStats) -> DataFrame:
        df = after_watermark(self.df, *wm)
        if trunc_fp is not None:
            # discard DML at or before the truncate (it was wiped)
            df = after_watermark(df, *trunc_fp)
        job = self.job
        return dml_for_table(job._stream_filters(df), job.schema_name, job.table_name)


class _WireSource:
    """Raw binlog wire frames, decoded exactly ONCE per batch. The naive
    structure (decode everything, then observe + merge) runs the
    vectorized decode twice and shuffles fat map columns — measured on
    local[8] vs local[32] it serialized on allocator/bandwidth
    contention (scaling efficiency 0.19). Here the manifest is computed
    JVM-side from the raw frames (header fields via substring/hex
    arithmetic, per-frame row counts via higher-order array functions),
    and LWW runs on the *packed* kv strings (narrow shuffle); maps and
    typed columns are built only for the winners."""

    def __init__(self, job: CdcApplyJob, paths: list[str]):
        from .schema import RAW_FRAME_SCHEMA
        from .sources.wire import ENTRY_SEP, kv_to_map

        self.job = job
        self.raw = job.spark.read.schema(RAW_FRAME_SCHEMA).parquet(*paths)
        # keys come from the tiny key_kv map (isKey columns), NOT the
        # full row image. key_kv is the ROW IDENTITY (before-image key,
        # MySQL RBR semantics) — equal to the after key for everything
        # except a PK-MOVING UPDATE. The upsert key is always the AFTER
        # key; `same_key` is a pure string test (after_kv packs the key
        # columns first, encoder invariant), so the full after map is
        # parsed pre-LWW only for the rare rows that actually moved —
        # and even a false negative here only costs that parse, never
        # correctness.
        k0, k1 = job.key_cols
        key_map, akey = kv_to_map("key_kv"), kv_to_map("after_kv")
        ident = (F.element_at(key_map, k0), F.element_at(key_map, k1))
        same_key = (F.col("after_kv") == F.col("key_kv")) | F.col(
            "after_kv"
        ).startswith(F.concat(F.col("key_kv"), F.lit(ENTRY_SEP)))
        maybe_moved = (F.col("op") == "UPDATE") & ~same_key
        # authoritative map comparison, evaluated only under the rare
        # maybe_moved branch (CASE WHEN short-circuits)
        is_move = maybe_moved & (
            (F.element_at(akey, k0) != ident[0])
            | (F.element_at(akey, k1).cast("int") != ident[1].cast("int"))
        )
        upsert = tuple(
            F.when(maybe_moved, F.element_at(akey, k)).otherwise(i)
            for k, i in zip((k0, k1), ident)
        )
        # tombstone payload = key_kv, enough for a delete
        self.keys = _Keys(
            "after_kv", akey, ident, upsert, ident, F.col("key_kv"), is_move
        )

    def manifest(self, wm, prefetched=None) -> _Manifest:
        """The batch's manifest: the prefetch thread's when still valid
        under the current watermark, else one synchronous pass."""
        if prefetched is not None:
            fut, pwm = prefetched
            try:
                pm = fut.result()
            except Exception:
                pm = None  # prefetch failure -> synchronous pass
            # a prefetched manifest was computed under the watermark in
            # force at SUBMIT time (before the previous batch's commit
            # advanced it). Its past-fence fields (n_dml, DDL and
            # incident rows) are identical under both watermarks iff
            # the batch lies wholly past the CURRENT fence too — the
            # steady state. Replay overlap falls back to a synchronous
            # pass (and drops the speculated winners with it).
            if pm is not None and (
                pwm == wm or not pm.n or (wm[0] is not None and wm < pm.lo)
            ):
                pm.prefetched = True
                return pm
        return self._scan(wm)

    def _scan(self, wm) -> _Manifest:
        """The single JVM aggregation over a batch's raw frames that
        yields the offset manifest — no Python, no decode — plus the
        driver-side decode of the handful of collected DDL and INCIDENT
        frames."""
        from .sources.wire import ENTRY_SEP, FIELD_SEP

        job = self.job
        body = F.decode(
            F.expr("substring(payload, 20, length(payload)-23)"), "UTF-8"
        )
        op0 = F.substring_index(body, FIELD_SEP, 1)
        rows_arr = F.split(body, "\x1c")
        # target-DML row test without per-row splits: values never
        # contain the separator bytes (framing invariant), so the
        # schema/table fields match iff the signature substring occurs
        sig = f"{FIELD_SEP}{job.schema_name}{FIELD_SEP}{job.table_name}{FIELD_SEP}"
        is_dml_row = lambda r: r.contains(sig) & (  # noqa: E731
            r.startswith("INSERT" + FIELD_SEP)
            | r.startswith("UPDATE" + FIELD_SEP)
            | r.startswith("DELETE" + FIELD_SEP)
        )
        # PK-move candidate test on the RAW row text (body fields: op=0,
        # …, key_kv=7, before_kv=8, after_kv=9; values never contain the
        # separator bytes): an UPDATE row whose key_kv (= before-image
        # key, the row identity) is not the entry-prefix of after_kv
        # moved its key. Short-circuits after the op test, so the two
        # substring_index scans run for UPDATE rows only; a batch with
        # no moves then keeps the zero-overhead keyed plan.
        _kk = lambda r: F.substring_index(  # noqa: E731
            F.substring_index(r, FIELD_SEP, 8), FIELD_SEP, -1
        )
        _ak = lambda r: F.substring_index(r, FIELD_SEP, -1)  # noqa: E731
        mv_cand = lambda r: (  # noqa: E731
            r.startswith("UPDATE" + FIELD_SEP)
            # target-table rows only: another table's key layout must
            # not pin the explode plan on for every batch
            & r.contains(sig)
            & ~(
                (_ak(r) == _kk(r))
                | _ak(r).startswith(F.concat(_kk(r), F.lit(ENTRY_SEP)))
            )
        )
        h = F.hex(F.expr("substring(payload, 1, 4)"))  # LE u32 ts
        ts_le = F.conv(
            F.concat(
                F.substring(h, 7, 2), F.substring(h, 5, 2),
                F.substring(h, 3, 2), F.substring(h, 1, 2),
            ),
            16, 10,
        ).cast("long")
        is_commit = op0 == "COMMIT"
        # DDL candidates: gated on the HEADER TYPE BYTE being QUERY(2) —
        # the reference's decoder dispatch (LogDecoder.java:108-134) —
        # not merely "unknown op text": a corrupt/adversarial stream can
        # make arbitrary frames carry unknown ops, and collecting their
        # full payloads would be an unbounded driver collect. QUERY
        # frames are BEGIN or DDL; BEGIN is excluded by op text.
        cand_ddl = F.expr("substring(payload, 5, 1) = X'02'") & (op0 != "BEGIN")
        past_fence = _past_fence(wm)
        # control-event classification on the header type byte
        # (LogDecoder.java:94-491 dispatch): HEARTBEAT(27) feeds M4
        # liveness, INCIDENT(26) feeds the C5 incident policy. Both are
        # rare by nature (heartbeats only at idle, incidents on master
        # faults), so the bounded collect below is safe; an incident
        # FLOOD past the cap fails loudly. Incidents count past the
        # fence only, like n_dml: already-applied incidents were
        # handled when first seen and must not re-fail (or flood) a
        # replay.
        is_hb = F.expr("substring(payload, 5, 1) = X'1B'")
        is_incident = F.expr("substring(payload, 5, 1) = X'1A'") & past_fence
        # n_dml counts target-DML rows PAST THE FENCE only (lineage
        # rows_applied semantics; replay-overlap rows are not applied).
        # CRC caveat: this JVM pass does not checksum-verify frames — a
        # corrupt frame that still pattern-matches the DML signature is
        # counted here but dropped by the decode, so rows_applied is an
        # upper bound under corruption (exact on clean streams).
        fp = F.struct("file", "pos")
        r = self.raw.select(
            "file", "pos", "payload",
            rows_arr.alias("rows_arr"), op0.alias("op0"),
            is_commit.alias("is_commit"), cand_ddl.alias("cand_ddl"),
            is_hb.alias("is_hb"), is_incident.alias("is_incident"),
            past_fence.alias("past_fence"),
            ts_le.alias("ts_s"),
        ).agg(
            F.min(fp).alias("lo"),
            F.max(fp).alias("hi"),
            F.sum(F.size("rows_arr")).alias("n"),
            F.sum(
                F.when(
                    F.col("past_fence"), F.size(F.filter("rows_arr", is_dml_row))
                ).otherwise(F.lit(0))
            ).alias("n_dml"),
            F.max(F.when(F.col("is_commit") | F.col("cand_ddl"), fp)).alias("txn_hi"),
            F.sum(F.length("payload")).alias("bytes_in"),
            F.max("ts_s").alias("max_ts_s"),
            F.sum(F.col("cand_ddl").cast("long")).alias("n_cand_ddl"),
            F.max(F.exists("rows_arr", mv_cand).cast("int")).alias("has_moves"),
            F.slice(
                F.collect_list(
                    F.when(F.col("cand_ddl"), F.struct("file", "pos", "payload"))
                ),
                1,
                job.MAX_DDL_FRAMES_PER_BATCH + 1,
            ).alias("ddl_frames"),
            F.max(F.when(F.col("is_hb"), F.col("ts_s"))).alias("hb_ts_s"),
            F.sum(F.col("is_incident").cast("long")).alias("n_incident"),
            F.slice(
                F.collect_list(
                    F.when(
                        F.col("is_incident"), F.struct("file", "pos", "payload")
                    )
                ),
                1,
                job.MAX_INCIDENT_FRAMES_PER_BATCH + 1,
            ).alias("incident_frames"),
        ).collect()[0]
        if int(r["n_cand_ddl"] or 0) > job.MAX_DDL_FRAMES_PER_BATCH:
            raise RuntimeError(
                f"{r['n_cand_ddl']} candidate-DDL (QUERY) frames in batch "
                f"exceed the {job.MAX_DDL_FRAMES_PER_BATCH} cap — "
                "refusing the unbounded driver collect. Either the input is "
                "corrupt/adversarial or the batch genuinely carries that much "
                "DDL; split it into smaller micro-batches."
            )
        n_incident = int(r["n_incident"] or 0)
        if n_incident > job.MAX_INCIDENT_FRAMES_PER_BATCH:
            raise IncidentError([("<flood>", n_incident, "incident-frame flood")])
        return _Manifest(
            n=int(r["n"] or 0),
            lo=_fp(r["lo"]),
            hi=_fp(r["hi"]),
            txn_hi=_fp(r["txn_hi"]),
            n_dml=int(r["n_dml"] or 0),
            has_moves=bool(r["has_moves"]),
            max_ts_s=float(r["max_ts_s"]) if r["max_ts_s"] is not None else None,
            bytes_in=int(r["bytes_in"] or 0),
            ddl_rows=self._ddl_rows(r["ddl_frames"], wm),
            incidents=self._incidents(r["incident_frames"]),
            heartbeat_ts=float(r["hb_ts_s"]) if r["hb_ts_s"] is not None else None,
        )

    @staticmethod
    def _decode(frames):
        import pandas as pd

        from .sources.wire import _decode_batch

        return _decode_batch(
            pd.DataFrame(
                [(f["file"], f["pos"], bytes(f["payload"])) for f in frames],
                columns=["file", "pos", "payload"],
            )
        )

    def _ddl_rows(self, frames, wm) -> list:
        """Decode the capped candidate-DDL frames driver-side and keep
        the past-fence DDL statements addressed to the target table — the
        batch's ordered schema-evolution input."""
        if not frames:
            return []
        job = self.job
        dd = self._decode(frames)
        dd = dd[
            dd["is_ddl"]
            & dd["crc_ok"]
            & (dd["schema_name"] == job.schema_name)
            & (dd["table_name"] == job.table_name)
        ]
        if wm[0] is not None:
            dd = dd[dd.apply(lambda d: (d["file"], d["pos"]) > wm, axis=1)]
        return dd.sort_values(["file", "pos", "row_idx"]).to_dict("records")

    def _incidents(self, frames) -> list:
        """Decode the capped (past-fence) INCIDENT frames driver-side
        into (file, pos, message) triples."""
        if not frames:
            return []
        dd = self._decode(frames)
        dd = dd[dd["crc_ok"] & (dd["op"] == "INCIDENT")]
        out = []
        for _, d in dd.sort_values(["file", "pos"]).iterrows():
            # wire payload "number:message" (mysql_events fixture form);
            # a bare message is carried verbatim
            raw_msg = d["ddl_sql"] or ""
            msg = raw_msg.split(":", 1)[1] if ":" in raw_msg else raw_msg
            out.append((d["file"], int(d["pos"]), msg))
        return out

    def keyed_changes(self, wm, trunc_fp, stats: ApplyStats) -> DataFrame:
        from .sources.wire import decode_frames_kv

        job = self.job
        raw_f = after_watermark(self.raw, *wm)
        if trunc_fp is not None:
            # discard DML at or before the truncate (it was wiped)
            raw_f = after_watermark(raw_f, *trunc_fp)
        if job.quarantine_dir is not None:
            stats.frames_quarantined = job._quarantine(raw_f, stats.batch_id)
        # F4 pre-decode gate, faithful to the reference's decoder
        # BitSet (LogDecoder.java:108-134): only row-event frames
        # (WRITE/UPDATE/DELETE_ROWS, header type byte 30/31/32) reach
        # the Python decode — BEGIN/COMMIT/DDL frames (~1/3 of the
        # stream) were fully consumed by the JVM manifest pass
        raw_dml = raw_f.filter(
            F.expr("substring(payload, 5, 1) IN (X'1E', X'1F', X'20')")
        )
        dml = dml_for_table(
            job._stream_filters(decode_frames_kv(raw_dml)),
            job.schema_name,
            job.table_name,
        )
        # GTID-set fencing (wire twin of after_gtid_set; identity when
        # no fence is configured)
        return job._wire_gtid_fence(raw_f, dml)


class MultiApplyJob:
    """One binlog stream -> N lakestore tables (the reference tracks
    EVERY table in the binlog and ships each to its own HBase
    table/Kafka topic, ``tracker/HandlerNoParserMagpieHBase.java`` —
    this is that fan-out over lakestore targets).

    Each declared (schema, table) target gets its own
    :class:`CdcApplyJob` over the SAME input directory: per-target
    watermark fencing means targets are independently exactly-once,
    a target added later simply catches up from the beginning of
    retained input, and one target's blocking failure (DDL policy,
    quality gate) never stalls the others unless ``fail_fast``.

    Scale note: targets re-scan the shared input rather than sharing
    one pass — scans are cheap and parallel (JVM manifest + header
    gate drop foreign-table rows before Python); sharing a decode
    across targets would couple their fences, which is exactly what
    the reference's single-cursor design suffers from (one slow sink
    stalls the tracker, SURVEY.md §3).
    """

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str,
        targets: dict[tuple[str, str], str],
        fail_fast: bool = False,
        **job_kwargs,
    ):
        self.fail_fast = fail_fast
        self.jobs: dict[tuple[str, str], CdcApplyJob] = {
            key: CdcApplyJob(
                spark,
                input_dir,
                path,
                schema_name=key[0],
                table_name=key[1],
                **job_kwargs,
            )
            for key, path in targets.items()
        }

    def run(self, max_batches: int | None = None):
        """Apply all targets. Returns ``{(schema, table): [ApplyStats]}``;
        per-target errors are re-raised (fail_fast) or collected under
        an ``errors`` attribute on the result dict."""
        out: dict = {}
        errors: dict = {}
        for key, job in self.jobs.items():
            try:
                out[key] = job.run(max_batches=max_batches)
            except Exception as e:  # noqa: BLE001 - isolation boundary
                if self.fail_fast:
                    raise
                errors[key] = e
        out["errors"] = errors
        return out

    def consistent_read(self, txn_aligned: bool = False):
        """Transactionally-aligned snapshot set across all targets —
        see :func:`consistent_read`. STRICTLY READ-ONLY: targets not
        yet opened by this job are loaded without the ``prepare()``
        side effects (no create-if-missing, no staging-dir cleanup —
        safe to call from a reader process while a writer is
        mid-batch); a target that was never created raises
        :class:`ConsistencyError` instead of materializing an empty
        table."""
        spark = next(iter(self.jobs.values())).spark
        tables = {}
        for key, job in self.jobs.items():
            if job.table is not None:
                tables[key] = job.table
            elif LakeTable.exists(job.table_path):
                tables[key] = LakeTable.load(job.table_path)
            else:
                raise ConsistencyError(
                    f"target {key} has no table at {job.table_path} "
                    "(never prepared/run)"
                )
        return consistent_read(spark, tables, txn_aligned=txn_aligned)


class ConsistencyError(RuntimeError):
    """No snapshot set with a common replay fence exists across the
    requested tables (lagging target never committed, or the common
    version was expired from a leader's history)."""


def consistent_read(
    spark: SparkSession,
    tables: dict,
    txn_aligned: bool = False,
):
    """Cross-table SNAPSHOT-CONSISTENT read over a multi-target fan-out
    (reference parity: the tracker's single binlog cursor makes every
    downstream HBase table/Kafka topic trivially consistent — one
    position is THE position, ``HandlerMagpieKafka.java:966-1103``; our
    per-target fencing re-establishes that guarantee read-side).

    All :class:`MultiApplyJob` targets consume the SAME offset-ordered
    input batching, so their snapshot histories carry the same sequence
    of replay watermarks — only each target's progress along it
    differs. The common fence W is the greatest (offset_file,
    offset_pos) present in EVERY table's retained history; each table
    is read at its LAST snapshot carrying W (i.e. just before its fence
    advanced past W, so in-place maintenance committed while the fence
    stood at W — compaction, splits — is included, and every table
    reflects exactly the change events at or before W).

    ``txn_aligned=True`` restricts candidate fences to snapshots whose
    batch ended exactly at a transaction boundary (``offset ==
    txn_end``, the reference's Xid-gated positions, C4): the returned
    set is then also transaction-atomic — no transcript transaction is
    split across the returned tables even if a txn straddled a batch
    cut.

    Returns ``({key: DataFrame}, (fence_file, fence_pos))``. Raises
    :class:`ConsistencyError` when no common fence exists (a target
    never committed, or expiry removed the leader's snapshot at the
    laggard's fence — retain more history or catch the laggard up).

    Scale shape: driver-side manifest reads only (O(retained snapshots)
    per table); the returned DataFrames are ordinary time-travel scans.
    """
    per_table: dict = {}
    for key, tbl in tables.items():
        fences: dict = {}
        for h in tbl.watermark_history():
            f, p = h["offset_file"], h["offset_pos"]
            if f is None or p is None:
                continue
            if txn_aligned and not (
                h["txn_end_file"] == f and h["txn_end_pos"] == p
            ):
                continue
            cur = fences.get((f, p))
            if cur is None or h["version"] > cur:
                fences[(f, p)] = h["version"]
        per_table[key] = fences
    common = None
    for fences in per_table.values():
        ks = set(fences)
        common = ks if common is None else (common & ks)
    if not common:
        raise ConsistencyError(
            "no common replay fence across targets"
            + (" (txn-aligned)" if txn_aligned else "")
            + ": "
            + ", ".join(
                f"{k}: {max(v) if v else 'never committed'}"
                for k, v in per_table.items()
            )
        )
    fence = max(common)
    out = {
        key: tbl.read(spark, version=per_table[key][fence])
        for key, tbl in tables.items()
    }
    return out, fence
