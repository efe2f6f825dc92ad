"""Append-only EVENT-LOG pipeline — the reference's HBase event-log
handler (`tracker/HandlerForMagpieHBase.java:476-609`, SURVEY.md §3.3)
re-expressed Spark-first.

The reference's third pipeline does not maintain a keyed table: it
appends EVERY parsed entry to HBase at a **monotonically increasing
long rowkey** (:552-565) and checkpoints (binlog pos, next rowkey)
atomically after Xid batches (:601-609). Here:

* the rowkey is a dense global ``seq`` assigned by the two-phase
  sequencer (``operators.parse.global_sequence`` — no single-task
  sort), offset by the committed ``next_seq`` so it is monotone across
  batches and replays;
* the sink is a directory of parquet files governed by a snapshot
  manifest chain (:mod:`.lakestore.snapshots`, the same atomic
  torn-write-proof commit as the keyed table) listing the files plus
  ``(offset_file, offset_pos, next_seq)`` — watermark and data commit
  ATOMICALLY (same exactly-once upgrade the keyed lakestore makes over
  the reference's confirm-after-send window);
* replayed batches are fenced by the offset watermark, so a rerun is a
  no-op and a kill/restart converges to the identical log.

Scale shape: append-only — each batch writes its own files, no
rewrite, no read of existing data; the manifest is one small JSON.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from .lakestore import snapshots
from .operators.parse import global_sequence
from .schema import CHANGE_EVENT_SCHEMA, LOG_ORDER


def _dir_stats(d: str, ts_col: str = "ts") -> dict:
    """Segment-level statistics from the parquet FILE FOOTERS only
    (pyarrow row-group metadata; no Spark job, no data read): row count
    plus the min/max of ``ts_col`` — the Iceberg manifest-stats model,
    computed once at write time so range reads can skip whole segments
    without opening them. Timestamps serialize as ISO strings (JSON
    manifest); a column with no usable stats yields ``ts: None``."""
    import pyarrow.parquet as pq

    rows, lo, hi = 0, None, None
    for root, _dirs, files in os.walk(d):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            rows += md.num_rows
            try:
                idx = md.schema.names.index(ts_col)
            except ValueError:
                continue
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                if st is None or not st.has_min_max:
                    continue
                if lo is None or st.min < lo:
                    lo = st.min
                if hi is None or st.max > hi:
                    hi = st.max
    ts = [_ts_key(lo), _ts_key(hi)] if lo is not None else None
    return {"rows": rows, "ts": ts}


def _ts_key(x) -> str:
    """Canonical, fixed-width, tz-stripped timestamp string
    ``YYYY-MM-DD HH:MM:SS.ffffff`` — the ONE format both the manifest
    stats and read_range's bounds go through, so lexicographic
    comparison is chronological comparison. Without this, a caller
    passing ISO-8601 ``2026-08-01T00:00:00`` against stats stored with
    a space separator would mis-prune at the ``T`` vs `` `` byte and
    silently drop matching segments."""
    import pandas as pd

    t = pd.Timestamp(x)
    if t.tzinfo is not None:
        t = t.tz_convert("UTC").tz_localize(None)
    return t.strftime("%Y-%m-%d %H:%M:%S.%f")


@dataclass
class EventLogStats:
    batch_id: int
    rows_in: int = 0
    rows_appended: int = 0
    seq_start: int | None = None
    seq_end: int | None = None
    skipped: bool = False
    file_end: str | None = None
    pos_end: int | None = None
    wall_ms: int = 0
    extra: dict = field(default_factory=dict)


class EventLogJob:
    """Replay offset-ordered micro-batches into an append-only event
    log, exactly once."""

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str,
        log_path: str,
        source_format: str = "typed",  # typed | jsonl | wire
        files_per_batch: int = 1,
        filter_regex: str | None = None,
        compact_threshold: int | None = 64,
    ):
        self.spark = spark
        self.input_dir = input_dir
        self.log_path = log_path
        self.snap_dir = os.path.join(log_path, "snapshots")
        self.data_dir = os.path.join(log_path, "data")
        self.source_format = source_format
        self.files_per_batch = files_per_batch
        self.filter_regex = filter_regex
        # auto-compact when the live segment count exceeds this after a
        # batch; None disables (compact() stays callable manually)
        self.compact_threshold = compact_threshold

    # ----------------------------------------------------------- snapshots

    def manifest(self) -> dict:
        v = snapshots.latest(self.snap_dir)
        if v is None:
            return {
                "version": 0,
                "files": [],
                "properties": {"next_seq": "0"},
            }
        return snapshots.load(self.snap_dir, v)

    def _commit(self, manifest: dict) -> int:
        os.makedirs(self.snap_dir, exist_ok=True)
        return snapshots.commit(self.snap_dir, manifest)

    def watermark(self) -> tuple[str | None, int | None, int]:
        p = self.manifest()["properties"]
        f = p.get("offset_file") or None
        pos = int(p["offset_pos"]) if p.get("offset_pos") else None
        return f, pos, int(p.get("next_seq", "0"))

    # --------------------------------------------------------------- input

    def batch_files(self) -> list[list[str]]:
        """Pending input files grouped into micro-batches, by the keyed
        apply job's rules (:func:`runner.batch_files`)."""
        from .runner import batch_files

        return batch_files(self.input_dir, self.source_format, self.files_per_batch)

    def _read_batch(self, paths: list[str]) -> DataFrame:
        if self.source_format == "wire":
            from .schema import RAW_FRAME_SCHEMA
            from .sources.wire import decode_frames

            raw = self.spark.read.schema(RAW_FRAME_SCHEMA).parquet(*paths)
            return decode_frames(raw)
        if self.source_format == "jsonl":
            return self.spark.read.schema(CHANGE_EVENT_SCHEMA).json(*paths)
        return self.spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(*paths)

    # ----------------------------------------------------------------- run

    def run(self, max_batches: int | None = None) -> list[EventLogStats]:
        groups = self.batch_files()[:max_batches]
        return [self.apply_batch(i, group) for i, group in enumerate(groups)]

    def apply_batch(self, batch_id: int, paths: list[str]) -> EventLogStats:
        from .operators.parse import after_watermark

        t0 = time.time()
        stats = EventLogStats(batch_id=batch_id)
        wm_file, wm_pos, next_seq = self.watermark()

        batch = self._read_batch(paths)
        # cross-batch replay overlap is fenced by the watermark; a
        # replay duplicate INSIDE one micro-batch (producer artifact —
        # duplicated frames are bytewise copies) collapses by exact
        # dedup on the total log order, so each event logs exactly once
        fenced = after_watermark(batch, wm_file, wm_pos).dropDuplicates(
            ["file", "pos", "row_idx"]
        )
        if self.filter_regex is not None:
            # reference filter semantics (:541): named-table events must
            # match; unnamed txn markers pass through
            name = F.concat_ws(".", "schema_name", "table_name")
            fenced = fenced.filter(
                F.col("schema_name").isNull() | name.rlike(self.filter_regex)
            )
        # monotone rowkey: dense global seq offset by the committed
        # next_seq (the HBase increasing-rowkey contract, :552-565)
        gs = global_sequence(fenced, LOG_ORDER, out_col="seq")
        seqd = gs.withColumn("seq", F.col("seq") + F.lit(next_seq))
        sub = f"batch-{batch_id:05d}-{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.data_dir, sub)
        # ONE pass per micro-batch: the batch stats (row count + the
        # high-water (file,pos) the watermark needs) ride the WRITE
        # action as an Observation instead of a separate pre-count —
        # on the wire format a pre-count runs the Arrow decode over
        # the whole batch a second time, and at 10^10 events every
        # extra pass is a full re-read of the input. A fully-fenced
        # batch writes an empty dir that is removed right away; a
        # crash inside that window leaves exactly the debris
        # gc_orphans reaps.
        from pyspark.sql import Observation

        obs = Observation()
        try:
            seqd.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.max(F.struct("file", "pos")).alias("hi"),
            ).write.parquet(out_dir)
        finally:
            # one micro-batch per cache: release the sequencer's
            # persisted frame (see global_sequence) before the next
            cache = getattr(gs, "_mts_seq_cache", None)
            if cache is not None:
                cache.unpersist()
        got = obs.get
        if not got["n"]:
            import shutil

            shutil.rmtree(out_dir, ignore_errors=True)
            stats.skipped = True
            stats.wall_ms = int((time.time() - t0) * 1000)
            return stats
        stats.rows_in = int(got["n"])
        stats.file_end, stats.pos_end = got["hi"]["file"], got["hi"]["pos"]
        # one footer pass yields the row count AND the segment's ts
        # min/max; the seq range is analytic (dense, offset by
        # next_seq) — together the manifest stats that let range reads
        # skip whole segments (read_range)
        seg = _dir_stats(out_dir)
        appended = seg["rows"]

        m = self.manifest()
        new = {
            "version": m["version"] + 1,
            "parent": m["version"] or None,
            "files": m["files"] + [sub],
            "segments": {
                **m.get("segments", {}),
                sub: {**seg, "seq": [next_seq, next_seq + appended - 1]},
            },
            "properties": {
                "offset_file": stats.file_end,
                "offset_pos": str(stats.pos_end),
                "next_seq": str(next_seq + appended),
                "batch_seq": str(batch_id),
                # input-group cursor for the streaming front-end (same
                # role as the keyed table's input_file_end property):
                # lets a restarted stream skip fully-applied groups
                # without re-reading them — the offset fence stays the
                # correctness authority
                "input_file_end": os.path.basename(paths[-1]),
            },
            "summary": {"operation": "append", "ts_ms": int(time.time() * 1000)},
        }
        self._commit(new)
        stats.rows_appended = appended
        stats.seq_start, stats.seq_end = next_seq, next_seq + appended - 1
        # auto-compaction rides the batch (as the keyed job's does), so
        # the replay loop and the streaming drain share it
        if (
            self.compact_threshold is not None
            and self.compact(max_segments=self.compact_threshold) is not None
        ):
            stats.extra["compacted"] = True
        stats.wall_ms = int((time.time() - t0) * 1000)
        return stats

    # ------------------------------------------------------------ compact

    def compact(self, max_segments: int = 8, n_out_parts: int = 8) -> int | None:
        """Minor compaction (the HBase-compaction analogue the
        reference's sink relied on its store to do): when more than
        ``max_segments`` live segment dirs exist, rewrite the whole
        live set into ONE segment, range-partitioned by ``seq`` so the
        log stays ordered-scannable. At 10^10 events with second-level
        micro-batches the append-only log is millions of tiny segments
        — scan cost and file-listing cost both degrade without this.

        Content is IDENTICAL (rows carry their committed seq; nothing
        is renumbered), the watermark/next_seq properties carry
        forward unchanged, and the commit is the same optimistic
        exclusive-create as append — a concurrent append makes this
        version collide and the compaction simply retries later. Old
        segment dirs stay on disk referenced by older manifest
        versions (history remains readable). Returns the new version,
        or None when below the threshold."""
        m = self.manifest()
        if len(m["files"]) <= max_segments:
            return None
        live = self.read()
        sub = f"compact-{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.data_dir, sub)
        live.repartitionByRange(n_out_parts, "seq").write.parquet(out_dir)
        # merged stats for the single output segment: fold the input
        # segments' manifest stats when complete, else one footer pass
        olds = [m.get("segments", {}).get(f) for f in m["files"]]
        if all(o and o.get("ts") and o.get("seq") for o in olds):
            seg = {
                "rows": sum(o["rows"] for o in olds),
                "ts": [
                    min(o["ts"][0] for o in olds),
                    max(o["ts"][1] for o in olds),
                ],
                "seq": [
                    min(o["seq"][0] for o in olds),
                    max(o["seq"][1] for o in olds),
                ],
            }
        else:
            seg = _dir_stats(out_dir)
            seg["seq"] = [0, int(m["properties"].get("next_seq", "1")) - 1]
        new = {
            "version": m["version"] + 1,
            "parent": m["version"],
            "files": [sub],
            "segments": {sub: seg},
            "properties": dict(m["properties"]),
            "summary": {
                "operation": "compact",
                "segments_in": len(m["files"]),
                "ts_ms": int(time.time() * 1000),
            },
        }
        return self._commit(new)

    # ------------------------------------------------------------ retention

    def expire_snapshots(self, keep_last: int = 10) -> int:
        """Bound the log's METADATA + superseded-segment storage (the
        lakestore's expiry, mirrored): drop all but the newest
        ``keep_last`` manifest versions, then delete segment dirs no
        surviving manifest references — i.e. pre-compaction segment
        sets, which otherwise accumulate forever (compaction leaves old
        dirs on disk for history). The LIVE log is untouched: every
        event stays (append-only content never expires — this reaps
        superseded *copies*, not data). Returns expired version count."""
        import shutil

        # reap exactly (dropped - surviving) refs: a directory walk
        # would race a concurrent appender's written-but-not-yet-
        # committed segment dir (it appears in no manifest yet and must
        # NOT be treated as garbage)
        dropped = snapshots.expire(self.snap_dir, keep_last)
        if not dropped:
            return 0
        dropped_refs = {f for m in dropped for f in m["files"]}
        live = {f for m in snapshots.docs(self.snap_dir) for f in m["files"]}
        for sub in dropped_refs - live:
            shutil.rmtree(os.path.join(self.data_dir, sub), ignore_errors=True)
        return len(dropped)

    def gc_orphans(self, min_age_s: float = 600.0) -> int:
        """Delete segment dirs referenced by NO surviving manifest, and
        commit temps a crash stranded in ``snapshots/`` — crash debris
        cleanup. ``min_age_s`` guards the race with a concurrent
        appender whose segment dir or temp exists but whose commit has
        not landed yet: only debris untouched for that long is reaped
        (an in-flight write is always younger; real debris is not).
        Returns the number of dirs and temps removed."""
        import shutil

        live = {f for m in snapshots.docs(self.snap_dir) for f in m["files"]}
        removed = snapshots.reap_temps(self.snap_dir, min_age_s)
        if not os.path.isdir(self.data_dir):
            return removed
        now = time.time()
        for sub in os.listdir(self.data_dir):
            p = os.path.join(self.data_dir, sub)
            if sub not in live and now - os.path.getmtime(p) >= min_age_s:
                shutil.rmtree(p, ignore_errors=True)
                removed += 1
        return removed

    # ---------------------------------------------------------------- read

    def read(self, spark: SparkSession | None = None) -> DataFrame:
        spark = spark or self.spark
        m = self.manifest()
        if not m["files"]:
            schema = CHANGE_EVENT_SCHEMA.add("seq", "long")
            return spark.createDataFrame([], schema)
        return spark.read.parquet(
            *[os.path.join(self.data_dir, f) for f in m["files"]]
        )

    def read_range(
        self,
        seq_from: int | None = None,
        seq_to: int | None = None,
        ts_from=None,
        ts_to=None,
        spark: SparkSession | None = None,
    ) -> DataFrame:
        """Range scan with SEGMENT SKIPPING (Iceberg manifest-stats
        pruning): only segments whose recorded ``seq``/``ts`` range
        overlaps the requested window are opened; the residual filter
        still applies (and pushes into parquet row-group stats inside
        kept segments). Bounds are inclusive; ``None`` leaves a side
        open. At 10^10 appended events a consumer replaying "yesterday
        16:00-17:00" or "seq 5M..6M" must touch the handful of
        segments covering it, not the whole log — without this, the
        append-only design's many-small-segments shape makes every
        range read a full scan. Segments without recorded stats (older
        manifests) are kept conservatively."""
        spark = spark or self.spark
        m = self.manifest()
        segs = m.get("segments", {})
        tf = _ts_key(ts_from) if ts_from is not None else None
        tt = _ts_key(ts_to) if ts_to is not None else None

        def keep(sub: str) -> bool:
            st = segs.get(sub)
            if not st:
                return True  # no stats -> cannot prune
            sq = st.get("seq")
            if sq and (
                (seq_to is not None and sq[0] > seq_to)
                or (seq_from is not None and sq[1] < seq_from)
            ):
                return False
            ts = st.get("ts")
            if ts and (
                # both sides canonicalized by _ts_key (stats at write,
                # bounds here) -> lexicographic == chronological
                (tt is not None and _ts_key(ts[0]) > tt)
                or (tf is not None and _ts_key(ts[1]) < tf)
            ):
                return False
            return True

        kept = [f for f in m["files"] if keep(f)]
        if not kept:
            schema = CHANGE_EVENT_SCHEMA.add("seq", "long")
            df = spark.createDataFrame([], schema)
        else:
            df = spark.read.parquet(
                *[os.path.join(self.data_dir, f) for f in kept]
            )
        if seq_from is not None:
            df = df.filter(F.col("seq") >= seq_from)
        if seq_to is not None:
            df = df.filter(F.col("seq") <= seq_to)
        if ts_from is not None:
            df = df.filter(F.col("ts") >= F.lit(ts_from))
        if ts_to is not None:
            df = df.filter(F.col("ts") <= F.lit(ts_to))
        return df
