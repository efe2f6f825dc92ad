"""Incrementally-maintained materialized views over a lakestore table
(the Iceberg materialized-view + incremental-refresh analogue).

The reference's downstream consumers re-read the Kafka/HBase stream to
rebuild any derived dataset (``consumer/kafka/KafkaReceiver.java`` —
full replays). Here a derived view declares two functions and the
engine keeps it current from the table's CHANGELOG instead:

* ``bootstrap(table_df) -> view_df`` — the full computation, run once
  (or after a manual invalidation);
* ``refresh(table_df, prev_view_df, changes_df) -> view_df`` — the
  incremental step, fed ``LakeTable.read_changes`` output between the
  view's last synced snapshot and the table head. The conversation
  stats/signature maintainers (``functions.conversations``) have
  exactly this signature.

``sync`` is idempotent and crash-safe the same way the table is:
view data lands in a versioned directory first, then a tiny meta JSON
is committed to the view's ``meta/`` snapshot chain
(:mod:`.lakestore.snapshots`, exclusive and torn-write-proof) — the
commit IS the rename point; a killed sync leaves only an orphan data
directory that the next sync garbage-collects, and two racing syncs
resolve by first-commit-wins.
Re-syncing at an unchanged table version is a no-op (never recomputes),
so calling ``sync`` after every micro-batch costs one version check
when nothing changed and one WORKING-SET-sized refresh when something
did — the view never pays corpus-sized work after bootstrap.

Like Iceberg maintenance jobs, a view assumes one maintenance writer
at a time; concurrent syncs stay CORRECT (first commit wins, the loser
discards its output) but may redo work.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .lakestore import LakeTable, snapshots


class MaterializedView:
    """A named derived dataset kept in lock-step with a LakeTable."""

    def __init__(
        self,
        table: LakeTable,
        view_dir: str,
        bootstrap: Callable[[DataFrame], DataFrame],
        refresh: Callable[[DataFrame, DataFrame, DataFrame], DataFrame],
        keep_last: int = 2,
    ):
        self.table = table
        self.view_dir = view_dir
        self.bootstrap = bootstrap
        self.refresh = refresh
        self.keep_last = max(int(keep_last), 1)
        self.meta_dir = os.path.join(view_dir, "meta")
        os.makedirs(self.meta_dir, exist_ok=True)

    # ------------------------------------------------------------- state

    def synced_version(self) -> int | None:
        """Table snapshot version the view currently reflects."""
        return snapshots.latest(self.meta_dir)

    def _meta(self, version: int) -> dict:
        return snapshots.load(self.meta_dir, version)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        v = version if version is not None else self.synced_version()
        if v is None:
            raise FileNotFoundError(f"view at {self.view_dir} never synced")
        return spark.read.parquet(
            os.path.join(self.view_dir, self._meta(v)["data"])
        )

    # -------------------------------------------------------------- sync

    def sync(self, spark: SparkSession) -> bool:
        """Bring the view to the table head. Returns True iff work ran."""
        import time

        cur = self.table.current_version()
        if cur is None:
            raise FileNotFoundError("backing table has no snapshots")
        last = self.synced_version()
        if last == cur:
            return False
        t0 = time.time()
        if last is None:
            new = self.bootstrap(self.table.read(spark))
        else:
            changes = self.table.read_changes(spark, last, cur)
            new = self.refresh(self.table.read(spark), self.read(spark, last), changes)

        # UNIQUE data dir per attempt: two racing syncs must never
        # share a final name (a shared name would let the loser rmtree
        # the winner's committed data)
        data_name = f"data_v{cur:08d}-{uuid.uuid4().hex[:8]}"
        tmp = os.path.join(self.view_dir, f"{data_name}.tmp-{os.getpid()}")
        # prev data dir stays alive while `new` (lazy over it) executes
        new.write.mode("overwrite").parquet(tmp)
        ok = self._commit(cur, tmp, data_name)
        if ok:
            self._append_lineage(
                {
                    "table_version": cur,
                    "from_version": last,
                    "mode": "bootstrap" if last is None else "refresh",
                    "wall_ms": int((time.time() - t0) * 1000),
                }
            )
        return ok

    def _append_lineage(self, rec: dict) -> None:
        """Per-sync lineage row (the view-side twin of the apply job's
        ``lineage.jsonl``): which table versions the sync spanned, what
        work ran, how long it took. Observability only — the exclusive
        meta commit is the correctness-bearing record."""
        import time

        rec = {**rec, "ts_ms": int(time.time() * 1000)}
        with open(os.path.join(self.view_dir, "lineage.jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")

    def _commit(
        self, cur: int, tmp: str, data_name: str, extra_meta: dict | None = None
    ) -> bool:
        """Promote a fully-written tmp data dir: rename to its
        attempt-unique final name, then commit the tiny meta JSON
        (torn-write-proof, exclusive) — the commit point. First
        committer wins; the loser removes ITS OWN data dir. Because
        the data dir name is unique per attempt, neither racer ever
        touches the other's data — the first-commit-wins contract
        cannot destroy the winner's output."""
        final = os.path.join(self.view_dir, data_name)
        os.rename(tmp, final)
        meta = {"table_version": cur, "data": data_name, **(extra_meta or {})}
        try:
            snapshots.commit(self.meta_dir, meta, cur, separators=None)
        except FileExistsError:
            # a racing sync committed this version first; ours is the orphan
            shutil.rmtree(final, ignore_errors=True)
            return False
        self._gc()
        return True

    # in-flight guard: a CONCURRENT sync's .tmp- dir is being written
    # for as long as its Spark job runs — only reap tmp debris older
    # than this (committed-data orphans are safe to reap immediately:
    # a racer's renamed dir is only unreferenced if its commit lost)
    TMP_GC_AGE_S = 600.0

    def _gc(self) -> None:
        """Drop metas/data beyond keep_last, plus stranded tmp dirs
        and meta commit temps (age-guarded — see TMP_GC_AGE_S)."""
        import time

        snapshots.expire(self.meta_dir, self.keep_last)
        snapshots.reap_temps(self.meta_dir, self.TMP_GC_AGE_S)
        vs = snapshots.versions(self.meta_dir)
        live = {self._meta(v)["data"] for v in vs}
        now = time.time()
        latest = max(vs) if vs else -1

        def _young(path: str) -> bool:
            try:
                return now - os.path.getmtime(path) < self.TMP_GC_AGE_S
            except OSError:
                return True

        def _dir_version(name: str) -> int:
            # data_v00000007[-uuid][.tmp-pid] -> 7 (-1 when unparsable)
            try:
                return int(name[len("data_v"):][:8])
            except ValueError:
                return -1

        for d in os.listdir(self.view_dir):
            full = os.path.join(self.view_dir, d)
            if d == "meta" or not os.path.isdir(full):
                continue
            if d in live:
                continue
            if ".tmp-" in d:
                if _young(full):
                    continue  # possibly a concurrent sync's in-flight write
                shutil.rmtree(full, ignore_errors=True)
            elif d.startswith("data_v"):
                # a RACER at a NEWER table version has a window between
                # its rename and its meta write where its dir is
                # non-live but about to be committed — protect young
                # dirs of versions beyond the latest committed meta
                # (same-or-older versions are safe: their commit either
                # exists, making them live, or lost)
                if _dir_version(d) > latest and _young(full):
                    continue
                shutil.rmtree(full, ignore_errors=True)


class BucketedMaterializedView(MaterializedView):
    """A materialized view stored ONE HIVE PARTITION PER KEY BUCKET
    (``__bucket=K`` subdirs, ``pmod(hash(key), n_buckets)``), refreshed
    by recomputing ONLY the buckets containing touched keys and
    HARDLINKING every other bucket's files from the previous version.

    Why: the base class's refresh COMPUTE is working-set-sized, but its
    WRITE is not — every sync rewrites the whole view dataset, which at
    a 10^10-row index is corpus-sized I/O per micro-batch. Here the
    write (and the read feeding it) tracks the changed buckets: an
    untouched bucket costs one ``os.link`` per file — the same
    carry-by-reference economics the lakestore's COW commit has.

    Contract: the view must be BUCKET-LOCAL — ``bootstrap(rows of key
    set S)`` must produce exactly the view rows for S (true for any
    per-key / per-conversation derivation: signatures, band index, ANN
    cells, stats; NOT true for corpus-global aggregates like
    boilerplate detection — keep those on the base class). ``refresh``
    is therefore derived, not user-supplied: a changed bucket is
    re-bootstrapped from the current table slice, so deletes fall out
    naturally. Crash-safety/first-commit-wins/no-op-at-unchanged-
    version are inherited (same tmp dir + exclusive meta commit;
    hardlinks keep old versions readable until GC unlinks their
    names)."""

    def __init__(
        self,
        table: LakeTable,
        view_dir: str,
        bootstrap: Callable[[DataFrame], DataFrame],
        key_col: str,
        n_buckets: int = 16,
        keep_last: int = 2,
        view_key_col: str | None = None,
    ):
        """``key_col`` names the bucketing key in the TABLE (and in
        ``read_changes`` output); ``view_key_col`` names the same key in
        the VIEW's output rows when the bootstrap renames it (e.g. the
        band index emits ``id`` for the table's ``conv_id``). Same
        values → same hash → a view row always lands in the bucket its
        table rows were recomputed from."""
        super().__init__(table, view_dir, bootstrap, refresh=None, keep_last=keep_last)
        self.key_col = key_col
        self.view_key_col = view_key_col or key_col
        self.n_buckets = int(n_buckets)

    def _bucket_of(self, col_name: str):
        from pyspark.sql import functions as F

        return F.pmod(F.hash(F.col(col_name)), F.lit(self.n_buckets))

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        return super().read(spark, version).drop("__bucket")

    def _write_slice(self, df: DataFrame, dest: str, parts: int) -> None:
        from pyspark.sql import functions as F

        (
            df.repartition(max(parts, 1), F.col(self.view_key_col))
            .withColumn("__bucket", self._bucket_of(self.view_key_col))
            .write.partitionBy("__bucket")
            .mode("append")
            .parquet(dest)
        )

    def sync(self, spark: SparkSession) -> bool:
        import time

        from pyspark.sql import functions as F

        cur = self.table.current_version()
        if cur is None:
            raise FileNotFoundError("backing table has no snapshots")
        last = self.synced_version()
        if last == cur:
            return False
        t0 = time.time()
        changed: set | None = None
        data_name = f"data_v{cur:08d}-{uuid.uuid4().hex[:8]}"
        tmp = os.path.join(self.view_dir, f"{data_name}.tmp-{os.getpid()}")
        os.makedirs(tmp, exist_ok=True)
        # bucket-scheme fence: the carried-by-hardlink buckets are only
        # valid under the n_buckets they were WRITTEN with — a changed
        # count silently mixes pmod schemes (old rows carried under the
        # old modulus + recomputed rows under the new one = duplicated/
        # misplaced keys). The stamped scheme wins detection; recovery
        # is a full re-bootstrap of the view data.
        rebucket = (
            last is not None
            and self._meta(last).get("n_buckets") != self.n_buckets
        )
        if last is None or rebucket:
            self._write_slice(
                self.bootstrap(self.table.read(spark)), tmp, self.n_buckets
            )
        else:
            changes = self.table.read_changes(spark, last, cur)
            changed = {
                r.b
                for r in changes.select(
                    self._bucket_of(self.key_col).alias("b")
                )
                .distinct()
                .collect()
            }
            # carry untouched buckets by hardlink: no read, no write
            prev_data = os.path.join(self.view_dir, self._meta(last)["data"])
            for d in os.listdir(prev_data):
                if not d.startswith("__bucket="):
                    continue
                if int(d.split("=", 1)[1]) in changed:
                    continue
                src, dst = os.path.join(prev_data, d), os.path.join(tmp, d)
                os.makedirs(dst, exist_ok=True)
                for f in os.listdir(src):
                    os.link(os.path.join(src, f), os.path.join(dst, f))
            if changed:
                # bucket-local recompute from the CURRENT table slice —
                # updated keys re-derive, deleted keys fall out
                slice_df = self.bootstrap(
                    self.table.read(spark).filter(
                        self._bucket_of(self.key_col).isin(*changed)
                    )
                )
                self._write_slice(slice_df, tmp, len(changed))
        ok = self._commit(
            cur, tmp, data_name, extra_meta={"n_buckets": self.n_buckets}
        )
        if ok:
            self._append_lineage(
                {
                    "table_version": cur,
                    "from_version": last,
                    "mode": (
                        "bootstrap" if last is None
                        else "rebucket" if rebucket
                        else "refresh"
                    ),
                    "changed_buckets": sorted(changed) if changed is not None else None,
                    "carried_buckets": (
                        self.n_buckets - len(changed) if changed is not None else 0
                    ),
                    "wall_ms": int((time.time() - t0) * 1000),
                }
            )
        return ok
