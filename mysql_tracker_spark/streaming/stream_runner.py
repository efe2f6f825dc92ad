"""Structured Streaming front-end (SURVEY.md §2.8 O1 as a streaming
query).

The batch replay loop (``runner.CdcApplyJob``) is the canonical apply
path; this wraps the same ``apply_batch`` in ``readStream -> foreachBatch``
so an unbounded directory of arriving micro-batch files is tailed like
the reference tails the binlog socket:

* source: parquet file stream over the input directory
  (``maxFilesPerTrigger`` plays the reference's flush-threshold role,
  B2 — batchsize/spacesize/timeInterval);
* sink: ``foreachBatch`` -> the fenced lakestore MERGE. Exactly-once
  holds even though foreachBatch is at-least-once: re-delivered
  batches are fenced out by the offset watermark committed atomically
  with the data (the streaming checkpoint only avoids re-listing
  files; correctness never depends on it);
* ordering: Spark's file stream source orders deliveries by
  MODIFICATION TIME, not by the offset-ordered file names — an
  object-store backfill or copied file can arrive "out of order", and
  applying it directly would advance the watermark past files never
  applied (their events then permanently fenced out). The trigger is
  therefore only a *new-data signal*: each firing drains the pending
  input in MANIFEST ORDER through the batch path (``apply_batch``),
  skipping already-applied groups via an ``input_file_end`` cursor
  committed with each snapshot. Files beyond the producer's
  ``_batches.json`` commit point stay invisible exactly as in the
  batch path (the delivered micro-batch DataFrame is never executed,
  so a half-written file beyond the commit point cannot crash the
  query either).

No event-time watermark is needed for correctness — order is
positional, as in the reference (SURVEY.md §2.9 streaming notes); the
lag metric (M3) rides in the per-batch lineage rows.

The exactly-once-through-idempotent-sink shape (at-least-once
micro-batch delivery + transactional/idempotent writer keyed by batch
range) follows the design described in "Structured Streaming: A
Declarative API for Real-Time Applications in Apache Spark" (SIGMOD
2018) §3.2; our lakestore commit carries the fencing range itself, so
correctness never depends on the streaming checkpoint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..runner import ApplyStats, CdcApplyJob
from ..schema import CHANGE_EVENT_SCHEMA, RAW_FRAME_SCHEMA


class _DirDrainStreamJob:
    """Shared streaming shell for directory-tail jobs: the file source
    is a NEW-DATA SIGNAL only (its mtime ordering must not decide apply
    order); every trigger drains pending input in MANIFEST ORDER
    through the wrapped batch job, skipping groups at or before the
    durable cursor (``_cursor()``) or already applied this run. The
    wrapped job's own atomic watermark commit is the exactly-once
    authority — the streaming checkpoint only avoids re-listing files.
    Subclasses supply ``_cursor()``, ``_apply_group()``, and optional
    ``_prepare()`` / ``_after_drain(applied_any)`` hooks."""

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str,
        checkpoint_dir: str,
        source_format: str,
        max_files_per_trigger: int,
    ):
        self.spark = spark
        self.input_dir = input_dir
        self.checkpoint_dir = checkpoint_dir
        self.source_format = source_format
        self.max_files_per_trigger = max_files_per_trigger
        # in-run memory of applied input groups (the durable cursor is
        # subclass state committed with each snapshot)
        self._applied_files: set[str] = set()
        self._apply_seq = 0

    # ---- subclass hooks ------------------------------------------------
    def _cursor(self) -> str:
        raise NotImplementedError

    def _apply_group(self, batch_id: int, group: list[str]) -> None:
        raise NotImplementedError

    def _prepare(self) -> None:
        pass

    def _after_drain(self, applied_any: bool) -> None:
        pass

    # ---- shared drain --------------------------------------------------
    def _apply(self, batch_df: DataFrame, epoch_id: int) -> None:
        # the delivered micro-batch is ONLY a new-data signal (see
        # class docstring); batch_df is deliberately never executed
        del batch_df, epoch_id
        self._drain_in_order()

    def _drain_in_order(self) -> None:
        """Apply every pending manifest-ordered input group through the
        batch path. Cheap skips: groups at or before the committed
        cursor (one property read) or already applied in this run never
        touch their files.

        The cursor is compared by MANIFEST POSITION, not name order:
        the manifest (or listing) order is the authoritative log order,
        and an upstream committer's file names need not be
        lexicographically monotone (``part-9`` vs ``part-10``) — a
        name-order comparison would skip such groups forever. A cursor
        naming a file no longer in the manifest (rotated out) simply
        stops skipping; the per-batch watermark fence keeps replays
        cheap and correct."""
        cursor = self._cursor()
        groups = self.job.batch_files()
        pos = {
            os.path.basename(p): i
            for i, g in enumerate(groups)
            for p in g
        }
        cur_i = -1
        if cursor in pos:
            j = pos[cursor]
            last_of_j = os.path.basename(groups[j][-1])
            # a regrouping (changed files_per_batch) can land the
            # cursor MID-group: then only groups before it are fully
            # covered, and the cursor's group re-applies (the watermark
            # fence drops its already-committed prefix)
            cur_i = j if last_of_j == cursor else j - 1
        applied_any = False
        for i, group in enumerate(groups):
            if i <= cur_i or all(p in self._applied_files for p in group):
                continue
            self._apply_group(self._apply_seq, group)
            self._apply_seq += 1
            self._applied_files.update(group)
            applied_any = True
        self._after_drain(applied_any)

    def start(self, available_now: bool = True):
        """Start the streaming query. ``available_now=True`` drains the
        current directory contents then stops (replay mode); False
        keeps tailing with the default processing-time trigger."""
        self._prepare()
        # drain the pre-existing backlog up front: the file source only
        # triggers on files its checkpoint has NOT seen, so input left
        # unapplied by a previous run (crash between delivery and
        # apply) would otherwise starve forever
        self._drain_in_order()
        schema = (
            RAW_FRAME_SCHEMA
            if self.source_format == "wire"
            else CHANGE_EVENT_SCHEMA
        )
        base = self.spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", str(self.max_files_per_trigger)
        )
        reader = (
            base.json(self.input_dir)
            if self.source_format == "jsonl"
            else base.parquet(self.input_dir)
        )
        writer = reader.writeStream.foreachBatch(self._apply).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_available(self):
        """Convenience: drain everything currently in the directory and
        block until done. A FINAL drain runs after the query stops:
        the file source cannot see ``_batches.json`` (underscore files
        are hidden), so a manifest commit that landed after its data
        files were delivered would otherwise leave those committed
        batches unapplied until the next run. (Live-tail mode has the
        same blind spot between triggers — the Heartbeat's reload, or
        any later file arrival, closes it; callers needing tighter
        bounds can invoke ``_drain_in_order`` on a timer.)"""
        q = self.start(available_now=True)
        q.awaitTermination()
        self._drain_in_order()
        return self.stats


class CdcStreamJob(_DirDrainStreamJob):
    """Tail an input directory as a stream and apply each micro-batch
    exactly once into the lakestore table."""

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str,
        table_path: str,
        checkpoint_dir: str,
        source_format: str = "typed",
        max_files_per_trigger: int = 1,
        views: list | None = None,
        **job_kwargs,
    ):
        """``views``: optional :class:`~mysql_tracker_spark.views.
        MaterializedView` list synced after every applied micro-batch —
        derived datasets (stats, near-dup signature index, …) then trail
        the table by at most one batch. A fenced-out (replayed) batch
        leaves the table version unchanged, so its sync is a no-op; view
        maintenance inherits the stream's exactly-once economics."""
        super().__init__(
            spark, input_dir, checkpoint_dir, source_format,
            max_files_per_trigger,
        )
        self.job = CdcApplyJob(
            spark, input_dir, table_path, source_format=source_format, **job_kwargs
        )
        self.views = list(views or [])
        self.stats: list[ApplyStats] = []

    def _prepare(self) -> None:
        self.job.prepare()

    def _cursor(self) -> str:
        # durable cursor: the table's input_file_end property,
        # committed atomically with each snapshot
        if self.job.table is None:
            return ""
        return self.job.table.properties().get("input_file_end", "")

    def _apply_group(self, batch_id: int, group: list[str]) -> None:
        self.stats.append(self.job.apply_batch(batch_id, group))

    def _after_drain(self, applied_any: bool) -> None:
        if applied_any:
            for v in self.views:
                v.sync(self.spark)


class EventLogStreamJob(_DirDrainStreamJob):
    """Streaming tail for the APPEND-ONLY event-log pipeline (C6,
    ``eventlog.EventLogJob``) — the reference's HBase event-log handler
    ran forever off the binlog tail; the batch EventLogJob only drains
    a directory once. Same drain shell as :class:`CdcStreamJob` (one
    implementation, see :class:`_DirDrainStreamJob`); exactly-once
    rides the log's own atomic ``(offset, next_seq)`` manifest commit,
    so a kill/restart keeps the seq axis DENSE and duplicate-free
    regardless of what the streaming checkpoint saw. The committed
    ``input_file_end`` property lets a restart skip fully-applied
    groups without re-reading them."""

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str,
        log_path: str,
        checkpoint_dir: str,
        source_format: str = "typed",
        max_files_per_trigger: int = 1,
        **job_kwargs,
    ):
        from ..eventlog import EventLogJob, EventLogStats

        super().__init__(
            spark, input_dir, checkpoint_dir, source_format,
            max_files_per_trigger,
        )
        self.job = EventLogJob(
            spark, input_dir, log_path, source_format=source_format, **job_kwargs
        )
        self.stats: list["EventLogStats"] = []

    def _cursor(self) -> str:
        return self.job.manifest()["properties"].get("input_file_end", "")

    def _apply_group(self, batch_id: int, group: list[str]) -> None:
        self.stats.append(self.job.apply_batch(batch_id, group))


class Heartbeat:
    """M4 heartbeat/liveness probe (reference:
    ``HandlerMagpieKafka.java:754-816`` — a timer thread pings the
    MySQL/Kafka/ZK connections and sets a reload flag on failure;
    ``reload = close + prepare``, :1163-1167).

    Spark analogue: probe the three liveness surfaces a CDC service
    has here —

    * **source**: the input directory is listable (the dump-connection
      ping);
    * **sink/checkpoint**: the lakestore manifest is readable and the
      snapshot dir writable (the ZK/Kafka ping — sink and checkpoint
      are one store in this engine);
    * **progress**: the streaming query (when one is attached) is
      active, exception-free, and has applied a batch within
      ``stall_after_s`` (the reference's per-minute monitor noticing a
      dead fetcher).

    ``probe()`` returns the check map with ``reload_needed``;
    ``reload()`` performs the reference's recovery — stop the query and
    restart it from the same checkpoint — which is safe here precisely
    because the apply path is exactly-once (fenced, idempotent), unlike
    the reference's at-least-once reload window.
    """

    def __init__(self, stream_job: CdcStreamJob, stall_after_s: float = 600.0):
        self.stream_job = stream_job
        self.stall_after_s = stall_after_s
        self.query = None
        # fold of stream_job.stats[:_scanned]: the newest batch id and
        # heartbeat ts seen, so a probe reads only the batches applied
        # since the previous one — O(new batches), not O(uptime)
        self._scanned = 0
        self._last_batch = None
        self._heartbeat_ts = None

    def _fold_new_stats(self) -> None:
        stats = self.stream_job.stats
        for i in range(self._scanned, len(stats)):
            s = stats[i]
            if self._last_batch is None or s.batch_id > self._last_batch:
                self._last_batch = s.batch_id
            ts = getattr(s, "heartbeat_ts", None)
            if ts is not None and (self._heartbeat_ts is None or ts > self._heartbeat_ts):
                self._heartbeat_ts = ts
        self._scanned = len(stats)

    def attach(self, query) -> None:
        import time

        self.query = query
        # arm the stall watchdog NOW: without this a query that never
        # completes its FIRST batch (poison file, misconfigured source
        # path) would probe progress_ok=True forever — the exact dead
        # fetcher M4 exists to notice
        self._fold_new_stats()
        self._last_seen_batch = self._last_batch
        self._last_seen_ts = time.time()

    def probe(self) -> dict:
        import os
        import time

        job = self.stream_job.job
        checks: dict = {}
        try:
            os.listdir(self.stream_job.input_dir)
            checks["source_ok"] = True
        except OSError:
            checks["source_ok"] = False
        try:
            table = job.table
            checks["sink_ok"] = (
                table is not None
                and table.manifest() is not None
                and os.access(table.snap_dir, os.W_OK)
            )
        except (OSError, KeyError, ValueError):
            checks["sink_ok"] = False
        self._fold_new_stats()
        if self.query is not None:
            alive = self.query.isActive and self.query.exception() is None
            checks["query_alive"] = alive
            last = self._last_batch
            last_ts = getattr(self, "_last_seen_ts", None)
            if last != getattr(self, "_last_seen_batch", None):
                self._last_seen_batch = last
                self._last_seen_ts = time.time()
                checks["progress_ok"] = True
            else:
                checks["progress_ok"] = (
                    last_ts is None or (time.time() - last_ts) < self.stall_after_s
                )
        # M4 master-liveness surface: newest HEARTBEAT frame the apply
        # saw (ApplyStats.heartbeat_ts, header ts of the
        # HEARTBEAT_LOG_EVENT the master sends at idle). Informational
        # — it measures the MASTER's pulse, not this engine's progress
        # — so it is excluded from the reload decision below.
        hb = self._heartbeat_ts
        checks["master_heartbeat_age_s"] = (
            time.time() - hb if hb is not None else None
        )
        checks["reload_needed"] = not all(
            v
            for k, v in checks.items()
            if k != "reload_needed" and isinstance(v, bool)
        )
        return checks

    def reload(self, available_now: bool = True):
        """The reference's reload: close + prepare + resume from the
        committed checkpoint. Returns the new query (also attached)."""
        if self.query is not None and self.query.isActive:
            self.query.stop()
        q = self.stream_job.start(available_now=available_now)
        self.attach(q)
        return q
