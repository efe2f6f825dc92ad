"""Snapshot-versioned, hash-bucketed lakehouse table over parquet.

Why this exists: BASELINE.json mandates Iceberg-style semantics
(atomic MERGE commits carrying offset manifests, schema evolution
mid-stream, replay-to-identical-state), but no Iceberg runtime jar is
baked into this sandbox. ``LakeTable`` implements exactly the subset
the CDC engine needs, from scratch, with public APIs only:

* **snapshots** — JSON manifests ``snapshots/v{n}.json`` listing the
  table's parquet files per hash bucket plus arbitrary string
  properties; commit = exclusive, torn-write-proof create of the next
  version file (:mod:`.snapshots`, the chain format's one owner) →
  optimistic concurrency, readers always see a complete snapshot.
* **hash bucketing** — rows are bucketed by Spark's Murmur3
  ``hash(key) % B`` (see ``_bucket_expr`` for why that exact
  function). The hash function is STAMPED in the manifest
  (``bucket_hash``) at create() and verified at load(): merging into
  a table whose rows were placed by a different hash would silently
  leave changed keys' old rows un-anti-joined (duplicate keys, undead
  deletes). A MERGE reads and rewrites *only the buckets containing
  changed keys* (copy-on-write); untouched buckets carry forward by
  manifest reference. At 100 TB this bounds MERGE cost by the working
  set, not the table size, exactly like Iceberg's bucket-partitioned
  copy-on-write MERGE INTO.
* **schema evolution** — each snapshot records the full schema plus a
  ``schema_id`` per data file. Readers group files by schema_id, read
  each group with its own schema, cast to the current schema, and
  ``unionByName`` — add-column and type-widen never rewrite data
  (the reference's add-only drift tolerance,
  ``tracker/parser/LogEventConvert.java:387-407``, generalized).
* **exactly-once fencing** — snapshot properties carry the replay
  watermark (``offset_file``/``offset_pos``/``batch_id``); the commit
  that advances the watermark is the same atomic commit that adds the
  data files — no confirm window, unlike the reference's
  send-then-confirm ZK protocol (``HandlerMagpieKafka.java:887-892``)
  which is only at-least-once.

The per-commit driver work is O(#buckets) manifest bookkeeping; all
data movement is Spark jobs.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import snapshots
from .spark_hash import BUCKET_KEY_TYPES, pmod_bucket

_BUCKET_COL = "__bucket"
# tombstone column riding in merge-on-read delta files (the runner's
# change sets already carry exactly this flag)
_TOMBSTONE = "__delete"
# identifier of the bucket-placement hash; bump ONLY with a migration
# path (rewriting every bucket) — see module docstring
_BUCKET_HASH_ID = "murmur3_42"


class WapConflictError(RuntimeError):
    """A staged COW snapshot can no longer fast-forward: a concurrent
    commit landed after it was staged. Abort and re-stage."""


class CommitConflictError(RuntimeError):
    """A COW merge lost its optimistic commit race to a concurrent
    commit that touched state the rewrite depended on (an affected
    bucket's file list, the schema, or the bucket count) — the rewrite
    was computed from a stale base and retrying would lose the
    concurrent writer's update. The caller replays the batch (the
    replay fence makes that exactly-once-safe). Conflicts that touch
    only DISJOINT state rebase and commit automatically."""


def _footer_rows(full_path: str) -> int:
    """Record count from the parquet file footer — metadata only."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(full_path).metadata.num_rows


def _stat_safe(v):
    """JSON-encodable form of a footer min/max value. Timestamps/dates
    become ISO strings (decoded back by :func:`_stat_bounds`); types
    with no faithful JSON form return None (column gets no stats —
    never skipped, always safe)."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        # footers hand back UTC-adjusted (aware) instants; store them
        # naive-UTC so bounds compare cleanly with session-naive probes
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bool, int, float, str)):
        return v
    return None


def _footer_stats(full_path: str, cols: list[str]) -> dict | None:
    """Per-column [min, max] bounds from the parquet footer's row-group
    statistics — metadata only, no data read (the Iceberg manifest
    lower/upper-bounds model). A column missing statistics in ANY row
    group gets no entry (pruning then never skips on it). Parquet may
    store truncated string bounds; they are still valid lower/upper
    bounds, which is all range pruning needs."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(full_path).metadata
    idx = {}
    for i in range(md.num_columns):
        idx[md.schema.column(i).name] = i
    out = {}
    for c in cols:
        ci = idx.get(c)
        if ci is None:
            continue
        lo = hi = None
        ok = md.num_row_groups > 0
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if not ok or lo is None:
            continue
        slo, shi = _stat_safe(lo), _stat_safe(hi)
        if slo is not None and shi is not None:
            out[c] = [slo, shi]
    return out or None


def _stat_bounds(fe: dict, col: str, probe):
    """Decoded (min, max) bounds of ``col`` for a file entry, or None
    when the entry carries no stats for it (pre-stats files, all-null
    or unencodable columns — caller must keep the file). ``probe`` is
    any value of the query's domain: a datetime/date probe re-parses
    the ISO-encoded bounds."""
    import datetime as _dt

    st = (fe.get("stats") or {}).get(col)
    if not st:
        return None
    lo, hi = st
    if isinstance(probe, _dt.datetime):
        plo = _dt.datetime.fromisoformat(lo)
        phi = _dt.datetime.fromisoformat(hi)
        if probe.tzinfo is not None:  # bounds are stored naive-UTC
            plo = plo.replace(tzinfo=_dt.timezone.utc)
            phi = phi.replace(tzinfo=_dt.timezone.utc)
        return plo, phi
    if isinstance(probe, _dt.date):
        return _dt.date.fromisoformat(lo[:10]), _dt.date.fromisoformat(hi[:10])
    return lo, hi


def _prune_probe_utc(spark, v):
    """Convert a NAIVE datetime bound to the naive-UTC domain the
    manifest stats live in — for the FILE-SKIPPING comparison only.
    The residual filter's literal goes through PySpark's
    ``TimestampType.toInternal``, which interprets naive datetimes in
    the PYTHON PROCESS's local timezone (``time.mktime``); the stats
    were stamped as naive-UTC instants. On a host not running UTC the
    two domains differ and the old direct compare silently skipped
    files holding matching rows. ``astimezone()`` on a naive value
    applies exactly the system-local interpretation toInternal uses,
    so pruning and residual agree by construction. tz-aware and
    non-datetime probes pass through (_stat_bounds handles aware
    probes). ``spark`` is unused but kept for call-site symmetry."""
    import datetime as _dt

    del spark
    if not isinstance(v, _dt.datetime) or v.tzinfo is not None:
        return v
    return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)


def _prune_preds_utc(spark, preds: dict) -> dict:
    """System-tz-normalized copy of a {col: (lo, hi)} predicate map
    for stats pruning (see :func:`_prune_probe_utc`)."""
    return {
        c: (_prune_probe_utc(spark, lo), _prune_probe_utc(spark, hi))
        for c, (lo, hi) in preds.items()
    }


def _stats_keep_range(fe: dict, col: str, lo, hi) -> bool:
    """True unless the file's stats PROVE no row can satisfy
    ``lo <= col <= hi`` (either bound may be None = unbounded).
    Missing stats keep the file — skipping is only ever an
    optimization, never a semantic filter."""
    b = _stat_bounds(fe, col, lo if lo is not None else hi)
    if b is None:
        return True
    fmin, fmax = b
    if lo is not None and fmax < lo:
        return False
    if hi is not None and fmin > hi:
        return False
    return True


# Per-file bloom filters (Delta bloom-index / Iceberg puffin analogue)
# for point reads on columns where min/max bounds can't prune (high-
# cardinality values scattered across files). m=8192 bits / k=4 hashes
# gives <1% false positives up to ~570 distinct values per file and
# costs 1 KiB per (file, column) in the manifest; at 10^9-file scale
# the bitmaps would move to side-car files (puffin), the probe protocol
# is unchanged. Hashing is Spark's own xxhash64 seeded per probe — the
# write side and the probe side run the SAME engine function. Unlike
# bucket placement (driver-side Murmur3 twin, see buckets_for_keys),
# the probe keeps its own tiny xxhash64 job: no twin of it exists.
_BLOOM_M = 8192
_BLOOM_K = 4


def _bloom_hex(positions) -> str:
    bits = bytearray(_BLOOM_M // 8)
    for p in positions:
        p = int(p)
        bits[p >> 3] |= 1 << (p & 7)
    return bits.hex()


def _bloom_contains(hex_bitmap: str, positions) -> bool:
    bits = bytes.fromhex(hex_bitmap)
    return all(bits[int(p) >> 3] & (1 << (int(p) & 7)) for p in positions)


def _bloom_position_exprs(col) -> list:
    """k bloom positions of ``col`` as Column expressions — xxhash64
    over (value, seed) so write and probe agree by construction."""
    return [
        F.pmod(F.xxhash64(col, F.lit(s)), F.lit(_BLOOM_M)).cast("int")
        for s in range(_BLOOM_K)
    ]


def _bloom_probe_positions(spark, dtype, values) -> list[list[int]]:
    """Per-probe-value bloom positions, computed by one tiny
    single-partition Spark job (engine-hash fidelity, see above)."""
    vdf = spark.createDataFrame(
        [(v,) for v in values], T.StructType([T.StructField("v", dtype)])
    )
    rows = vdf.select(
        F.array(*_bloom_position_exprs(F.col("v"))).alias("ps")
    ).collect()
    return [list(r["ps"]) for r in rows]


def _stats_keep_keys(fe: dict, col: str, keys: list) -> bool:
    """True unless the file's stats prove NONE of ``keys`` can be
    present (point-read delta skipping)."""
    if not keys:
        return True
    b = _stat_bounds(fe, col, keys[0])
    if b is None:
        return True
    fmin, fmax = b
    return any(fmin <= k <= fmax for k in keys)


def _zvalue_expr(df: DataFrame, cols: list[str], n_codes: int = 64):
    """Z-ORDER curve expression (Delta ``OPTIMIZE ZORDER BY`` / Iceberg
    ``sort_order(zorder(...))`` analogue): map each column to a small
    rank code via SAMPLED range boundaries (skew-proof, unlike linear
    min/max scaling) and bit-interleave the codes into one long, so
    rows close on the space-filling curve are close in EVERY clustered
    column — files written in z-order carry tight min/max bounds on
    all of them at once, and :meth:`LakeTable.read_where` can skip
    files on any single one.

    Scale shape: ONE bounded sampling job (hash-ordered top-N — a
    per-partition heap, no full sort) computes the boundaries on the
    driver (<= ``n_codes``-1 literals per column); the per-row code is
    a pure Catalyst expression (array filter over the broadcast
    boundary literals + shift/mask interleave), zero Python on the
    data path."""
    import math

    samp = (
        df.select(*cols)
        .orderBy(F.xxhash64(*cols))  # deterministic pseudo-random top-N
        .limit(n_codes * 64)
        .collect()
    )
    codes = []
    nbits = max(1, int(math.ceil(math.log2(n_codes))))
    for i, c in enumerate(cols):
        vals = sorted({r[i] for r in samp if r[i] is not None})
        bounds = []
        if len(vals) > 1:
            # evenly spaced quantile indices (an integer stride would
            # collapse the upper range into one code whenever the
            # distinct count is between n_codes and 2*n_codes)
            idx = sorted(
                {
                    min(round(q * len(vals) / n_codes), len(vals) - 1)
                    for q in range(1, n_codes)
                }
            )
            bounds = []
            for j in idx:
                if not bounds or vals[j] > bounds[-1]:
                    bounds.append(vals[j])
            bounds = bounds[: n_codes - 1]
        if not bounds:
            codes.append(F.lit(0))
            continue
        arr = F.array(*[F.lit(b) for b in bounds])
        code = F.when(F.col(c).isNull(), F.lit(0)).otherwise(
            F.size(F.filter(arr, lambda b: b <= F.col(c)))
        )
        codes.append(code)
    z = F.lit(0).cast("long")
    k = len(cols)
    for bit in range(nbits):
        for j, code in enumerate(codes):
            z = z + F.shiftleft(
                F.shiftright(code, bit).bitwiseAND(F.lit(1)).cast("long"),
                bit * k + j,
            )
    return z


def _source_name(name: str, sid: int, renames: list | None) -> str:
    """A current column's HISTORICAL name in files written under schema
    ``sid``: walk the rename chain newest-first, applying every rename
    committed after that schema (Iceberg column-mapping analogue, by
    rename records instead of field ids)."""
    for r in sorted(renames or [], key=lambda r: -r["sid"]):
        if r["sid"] > sid and name == r["to"]:
            name = r["from"]
    return name


def _current_name(name: str, sid: int, renames: list | None) -> str:
    """Inverse of :func:`_source_name`: the name a column written under
    schema ``sid`` carries under the newest schema."""
    for r in sorted(renames or [], key=lambda r: r["sid"]):
        if r["sid"] > sid and name == r["from"]:
            name = r["to"]
    return name


def _source_map(
    target: T.StructType,
    sid: int,
    cur_sid: int,
    schemas: dict,
    renames: list | None,
) -> dict[str, str | None]:
    """Target column -> the column to read from files written under
    schema ``sid`` (None = read NULL). The column identity must exist
    CONTINUOUSLY from ``sid`` to ``cur_sid`` under the rename chain: a
    name dropped and later re-added is a NEW identity — without this
    check, unrewritten old files would resurrect the dropped bytes
    under the reused name (the hole Iceberg closes with field ids)."""
    lineage = [
        int(s) for s in schemas if sid <= int(s) <= cur_sid
    ]
    fields_at = {
        v: {f["name"] for f in schemas[str(v)]["fields"]} for v in lineage
    }
    out: dict[str, str | None] = {}
    for f in target.fields:
        ok = all(
            _source_name(f.name, v, renames) in fields_at[v] for v in lineage
        )
        out[f.name] = _source_name(f.name, sid, renames) if ok else None
    return out


def _bucket_rows(new_files: dict[int, list[dict]]) -> dict[str, int]:
    """Per-bucket rows written by a commit, folded from the entries'
    footer stats (the per-partition lineage payload)."""
    return {
        str(b): sum(int(e.get("rows") or 0) for e in files)
        for b, files in new_files.items()
    }


def _refs(manifests) -> set[str]:
    """Data files referenced by the given snapshot manifests."""
    return {
        fe["path"] for m in manifests for files in m["buckets"].values() for fe in files
    }


def _has_delta(entries: list[dict]) -> bool:
    return any(fe.get("delta") for fe in entries)


def _residual_key(fe: dict) -> tuple | None:
    """Hashable grouping key of a SHARED entry's residual (None for an
    owned file). Shared entries exist after :meth:`LakeTable.split_buckets`:
    the child bucket references its parent's physical file plus a
    read-time predicate selecting only the child's rows."""
    r = fe.get("residual")
    if not r:
        return None
    return (r["col"], r["sid"], r["n"], r["id"])


def _collapse_shared(entries: list[dict]) -> list[dict]:
    """Replace COMPLETE sibling sets of shared entries with one
    residual-free entry per physical file. The file holds exactly the
    rows of one parent-layout bucket (residue class ``id mod
    parent_n``, stamped at split time); its children under the current
    layout are the FULL set {id%parent_n + i*parent_n}. Only when every
    one of them is present (none migrated away, none pruned by the
    caller's bucket scope) do their residuals partition the file
    exactly — then one unfiltered scan replaces k filtered passes. An
    equally-spaced PARTIAL subset must NOT collapse: its absent
    siblings' rows live in migrated files, and an unfiltered scan would
    duplicate them — which is why coverage keys off the stamped parent
    period, never the in-scope count."""
    out = [fe for fe in entries if not fe.get("residual")]
    shared = [fe for fe in entries if fe.get("residual")]
    if not shared:
        return entries
    by_path: dict[str, list[dict]] = {}
    for fe in shared:
        by_path.setdefault(fe["path"], []).append(fe)
    for path, fes in by_path.items():
        r0 = fes[0]["residual"]
        ids = {fe["residual"]["id"] for fe in fes}
        pn = r0.get("parent_n")
        same = all(
            fe["residual"]["n"] == r0["n"]
            and fe["residual"]["col"] == r0["col"]
            for fe in fes
        )
        full = (
            same
            and pn is not None
            and ids == {min(ids) % pn + i * pn for i in range(r0["n"] // pn)}
        )
        if full:
            out.append({k: v for k, v in fes[0].items() if k != "residual"})
        else:
            out.extend(fes)
    return out


def _residual_pred(rk: tuple, renames: list | None):
    """Read-time predicate of a residual group: rows whose CURRENT
    bucket placement equals the child id. The stored column name is the
    bucket key at split time (schema ``sid``), mapped through the
    rename chain so the predicate follows a later column rename. Sound
    under nested splits: the newest residual implies every older one
    (``pmod(h, k*n) == c`` forces ``pmod(h, n) == c % n``)."""
    col, sid, n, child = rk
    return _bucket_expr(_current_name(col, sid, renames), n) == F.lit(child)


def _bucket_expr(key_col: str | F.Column, n_buckets: int):
    """Bucket id of a key — DELIBERATELY Spark's own Murmur3 ``hash()``
    (seed 42) mod n_buckets: ``HashPartitioning`` places a row of
    ``repartition(P, key)`` in partition ``pmod(hash(key), P)``, and
    for any P dividing n_buckets that equals ``bucket mod P``. A
    repartition by the bucketing key into :func:`_write_tasks` P
    partitions therefore has bucket b written by task b mod P, every
    bucket whole in one task: the apply pipeline runs the
    bucket-partitioned write off a single exchange, with one output
    file per bucket and no second shuffle."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.pmod(F.hash(c), F.lit(n_buckets))


def _write_tasks(n_buckets: int, parallelism: int) -> int:
    """Task count P of a bucket-aligned write of ``n_buckets`` buckets:
    the smallest divisor of n_buckets not below ``parallelism`` (the
    session's ``defaultParallelism``), else n_buckets itself. P must
    divide the count ``__bucket`` was computed with, so each bucket
    lands whole in one task (see :func:`_bucket_expr`); sizing P to the
    cores rather than to the bucket count keeps a small batch from
    paying one task's scheduling and deserialization cost per bucket."""
    return next(
        (p for p in range(max(parallelism, 1), n_buckets) if n_buckets % p == 0),
        n_buckets,
    )


class LakeTable:
    """A versioned bucketed table rooted at ``path``."""

    def __init__(self, path: str):
        self.path = path
        self.snap_dir = os.path.join(path, "snapshots")
        self.data_dir = os.path.join(path, "data")

    # ------------------------------------------------------------------ setup

    @classmethod
    def create(
        cls,
        path: str,
        schema: T.StructType,
        key_cols: list[str],
        bucket_by: str,
        n_buckets: int = 64,
        properties: dict[str, str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> "LakeTable":
        ktype = next(
            (f.dataType.typeName() for f in schema.fields if f.name == bucket_by),
            None,
        )
        if ktype not in BUCKET_KEY_TYPES:
            # point reads place keys with the driver-side Murmur3 twin,
            # which covers exactly these types
            raise ValueError(
                f"bucket_by column {bucket_by!r} has type {ktype!r}; a "
                f"bucket key must be one of {sorted(BUCKET_KEY_TYPES)}"
            )
        t = cls(path)
        os.makedirs(t.snap_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        manifest = {
            "version": 1,
            "parent": None,
            "schema_id": 0,
            "schemas": {"0": json.loads(schema.json())},
            "key_cols": key_cols,
            "bucket_by": bucket_by,
            "bucket_hash": _BUCKET_HASH_ID,
            "n_buckets": n_buckets,
            # bucket -> list of {"path","schema_id","rows"}
            "buckets": {},
            "properties": dict(properties or {}),
            "summary": {"operation": "create", "ts_ms": int(time.time() * 1000)},
        }
        if bloom_cols:
            manifest["bloom_cols"] = list(bloom_cols)
        t._commit(manifest)
        return t

    @classmethod
    def load(cls, path: str) -> "LakeTable":
        t = cls(path)
        if t.current_version() is None:
            raise FileNotFoundError(f"no lakestore table at {path}")
        # refuse tables placed by a different (or unstamped) bucket
        # hash: merging with mismatched placement silently corrupts
        # (changed keys' old rows are never anti-joined away)
        stamped = t.manifest().get("bucket_hash")
        if stamped != _BUCKET_HASH_ID:
            raise ValueError(
                f"lakestore table at {path} was bucketed with "
                f"{stamped!r}, this engine places rows with "
                f"{_BUCKET_HASH_ID!r} — MERGE would silently duplicate "
                "keys. Rewrite the table (read + overwrite) to migrate."
            )
        return t

    @staticmethod
    def exists(path: str) -> bool:
        """True iff the path holds at least one COMMITTED snapshot, so
        a crash-stranded ``.tmp-*`` commit temp never makes exists()
        claim a table that :meth:`load` would then fail to open."""
        return bool(snapshots.versions(os.path.join(path, "snapshots")))

    # ------------------------------------------------------------- snapshots

    def current_version(self) -> int | None:
        return snapshots.latest(self.snap_dir)

    def manifest(self, version: int | None = None) -> dict:
        v = version if version is not None else self.current_version()
        return snapshots.load(self.snap_dir, v)

    def _commit(self, manifest: dict) -> int:
        """Atomic optimistic commit of the next version
        (:func:`snapshots.commit`): raises ``FileExistsError`` when a
        concurrent writer claimed the version; a crash leaves either no
        v-file or a complete one."""
        return snapshots.commit(self.snap_dir, manifest)

    def properties(self, version: int | None = None) -> dict:
        return self.manifest(version)["properties"]

    def schema(self, version: int | None = None) -> T.StructType:
        return self._schema_of(self.manifest(version))

    @staticmethod
    def _schema_of(m: dict) -> T.StructType:
        """Schema OF AN ALREADY-READ MANIFEST — every write path must
        derive its schema from the same snapshot read it plans
        against: a second ``self.schema()`` call is a second manifest
        read, and a schema commit landing between the two would write
        the new column set stamped with the old schema_id (readers
        then align the bytes to the wrong columns)."""
        return T.StructType.fromJson(m["schemas"][str(m["schema_id"])])

    # ------------------------------------------------------------------ read

    def _read_aligned(
        self,
        spark: SparkSession,
        entries: list[dict],
        schemas: dict,
        target: T.StructType,
        renames: list | None = None,
        cur_sid: int | None = None,
    ) -> DataFrame:
        """Read a list of file entries (each ``{"path","schema_id",...}``)
        grouped by schema_id and align every group to ``target``: missing
        columns become null, widened columns cast, renamed columns mapped
        through the rename chain (schema evolution without rewrite).

        SHARED entries (``residual`` present, from :meth:`split_buckets`)
        reference a parent-layout physical file holding a superset of
        their bucket's rows; each residual group scans filtered to its
        own rows. When every sibling of a shared path is in scope the
        groups are COLLAPSED to one unfiltered scan of the path (their
        residuals partition the file exactly), so a full-table read of
        a freshly split table costs the same one pass it did before the
        split — no k-fold read amplification."""
        collapsed = _collapse_shared(entries)
        plain: list[dict] = []
        shared: list[dict] = []
        for fe in collapsed:
            (shared if fe.get("residual") else plain).append(fe)
        groups: dict[int, list[str]] = {}
        for fe in plain:
            groups.setdefault(fe["schema_id"], []).append(os.path.join(self.path, fe["path"]))
        sgroups: dict[tuple, list[str]] = {}
        for fe in shared:
            k = (fe["schema_id"],) + _residual_key(fe)
            sgroups.setdefault(k, []).append(os.path.join(self.path, fe["path"]))
        if not groups and not sgroups:
            return spark.createDataFrame([], target)
        parts = []
        for sid, paths in sorted(groups.items()):
            old = T.StructType.fromJson(schemas[str(sid)])
            df, cols = self._aligned_scan(
                spark, paths, old, target,
                sid=sid, renames=renames, schemas=schemas, cur_sid=cur_sid,
            )
            parts.append(df.select(*cols))
        for gk, paths in sorted(sgroups.items()):
            sid, rk = gk[0], gk[1:]
            old = T.StructType.fromJson(schemas[str(sid)])
            df, cols = self._aligned_scan(
                spark, paths, old, target,
                sid=sid, renames=renames, schemas=schemas, cur_sid=cur_sid,
            )
            parts.append(df.select(*cols).filter(_residual_pred(rk, renames)))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _aligned_scan(
        self,
        spark: SparkSession,
        paths: list[str],
        old: T.StructType,
        target: T.StructType,
        extra_fields: list[T.StructField] | None = None,
        sid: int = 0,
        renames: list | None = None,
        schemas: dict | None = None,
        cur_sid: int | None = None,
    ):
        """One schema-group parquet scan plus the column list aligning
        it to ``target`` (missing columns null, widened columns cast,
        renamed columns read under their historical name at ``sid``,
        re-added names treated as NEW identities — see
        :func:`_source_map`) — the single align implementation shared
        by the base read and the MOR resolution path. ``extra_fields``
        extends the READ schema (e.g. the tombstone column); the caller
        appends its own extra output columns to the returned list."""
        read_schema = (
            T.StructType(list(old.fields) + list(extra_fields))
            if extra_fields
            else old
        )
        df = spark.read.schema(read_schema).parquet(*paths)
        old_names = {f.name for f in old.fields}
        if schemas is not None:
            cs = cur_sid if cur_sid is not None else max(int(s) for s in schemas)
            src = _source_map(target, sid, cs, schemas, renames)
        else:
            src = {f.name: _source_name(f.name, sid, renames) for f in target.fields}
        cols = [
            F.col(src[f.name]).cast(f.dataType).alias(f.name)
            if src[f.name] is not None and src[f.name] in old_names
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in target.fields
        ]
        return df, cols

    def _read_state(
        self,
        spark: SparkSession,
        m: dict,
        bucket_ids: list[int] | None = None,
        target: T.StructType | None = None,
        schemas: dict | None = None,
        file_filter=None,
        renames: list | None = None,
        cur_sid: int | None = None,
    ) -> DataFrame:
        """Live one-row-per-key state of a snapshot's buckets, with any
        merge-on-read DELTA files resolved: for every key the entry
        with the highest commit ``seq`` wins (base files carry seq 0 —
        a delta can only coexist with a base it was committed AFTER,
        because every base rewrite absorbs the bucket's deltas), and a
        winning tombstone drops the key.

        Fast path: a scope with no delta entries returns the plain
        aligned base read — byte-identical plan to the pure-COW table,
        so tables that never use MOR pay nothing.

        Resolution shape at scale: one scan per live (schema_id, seq)
        file group — the group count is the number of UNCOMPACTED delta
        commits, which the compaction threshold bounds — then ONE
        aggregation on the key with ``max_by(payload_struct, seq)``.
        max_by is a declarative aggregate, so hot keys collapse
        map-side before the shuffle, and the shuffle moves only the
        buckets in scope (point reads stay bucket-pruned).

        ``file_filter(entry) -> bool`` drops individual files BEFORE
        the scan. Only sound for filters that prove the file holds no
        row of the keys in question (manifest min/max stats on a KEY
        column): excluding a file with no rows for a key cannot change
        that key's ``max_by`` winner."""
        schemas = schemas if schemas is not None else m["schemas"]
        target = (
            target
            if target is not None
            else T.StructType.fromJson(schemas[str(m["schema_id"])])
        )
        if bucket_ids is None:
            bucket_ids = sorted(int(b) for b in m["buckets"])
        # split PER BUCKET: only buckets actually holding deltas pay
        # the resolution aggregation; delta-free buckets keep the plain
        # aligned scan (a lone delta in one bucket must not drag the
        # whole table through a key shuffle)
        clean_entries: list[dict] = []
        delta_entries: list[dict] = []
        for b in bucket_ids:
            files = m["buckets"].get(str(b), [])
            if file_filter is not None:
                files = [fe for fe in files if file_filter(fe)]
            (delta_entries if _has_delta(files) else clean_entries).extend(files)
        # caller override: a cross-version diff aligns BOTH sides to
        # the newer schema, so both need the newer rename chain (and
        # the newer schema id for the continuity lineage)
        renames = renames if renames is not None else m.get("renames")
        cur_sid = cur_sid if cur_sid is not None else m["schema_id"]
        if not delta_entries:
            return self._read_aligned(
                spark, clean_entries, schemas, target,
                renames=renames, cur_sid=cur_sid,
            )

        # group files by (schema_id, seq, residual): every file in a
        # group shares one parquet schema, one commit precedence level,
        # and (for shared post-split entries) one row-ownership filter.
        # Complete sibling sets collapse to one unfiltered scan first —
        # same as the clean path — so a post-split MOR read doesn't pay
        # k passes over each shared base file
        groups: dict[tuple, list[str]] = {}
        for fe in _collapse_shared(delta_entries):
            k = (
                fe["schema_id"],
                fe.get("seq", 0),
                bool(fe.get("delta")),
                _residual_key(fe),
            )
            groups.setdefault(k, []).append(os.path.join(self.path, fe["path"]))
        parts = []
        for (sid, seq, is_delta, rk), paths in sorted(
            groups.items(), key=lambda kv: (kv[0][0], kv[0][1], kv[0][2], kv[0][3] or ())
        ):
            old = T.StructType.fromJson(schemas[str(sid)])
            extra = (
                [T.StructField(_TOMBSTONE, T.BooleanType())] if is_delta else None
            )
            df, cols = self._aligned_scan(
                spark, paths, old, target, extra,
                sid=sid, renames=renames, schemas=schemas, cur_sid=cur_sid,
            )
            tomb = (
                F.coalesce(F.col(_TOMBSTONE), F.lit(False))
                if is_delta
                else F.lit(False)
            )
            part = df.select(
                *cols, tomb.alias("__is_del"), F.lit(seq).alias("__seq")
            )
            if rk is not None:
                part = part.filter(_residual_pred(rk, renames))
            parts.append(part)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        # the aligned union carries TARGET names — map the key through
        # the rename chain (a cross-version diff may group an old
        # snapshot's files under the newer key name)
        key = [
            _current_name(k, m["schema_id"], renames) for k in m["key_cols"]
        ]
        payload = [f.name for f in target.fields if f.name not in key]
        winner = F.max_by(
            F.struct(*payload, "__is_del"), F.col("__seq")
        ).alias("__w")
        agg = u.groupBy(*key).agg(winner)
        resolved = agg.filter(~F.col("__w.__is_del")).select(
            *key, *[F.col(f"__w.{c}").alias(c) for c in payload]
        ).select(*[f.name for f in target.fields])
        if not clean_entries:
            return resolved
        return self._read_aligned(
            spark, clean_entries, schemas, target,
            renames=renames, cur_sid=cur_sid,
        ).unionByName(resolved)

    def delta_counts(self, version: int | None = None) -> dict[int, int]:
        """Bucket id -> number of live merge-on-read delta files (the
        read-amplification meter compaction policies key off)."""
        m = self.manifest(version)
        out: dict[int, int] = {}
        for b_str, files in m["buckets"].items():
            n = sum(1 for fe in files if fe.get("delta"))
            if n:
                out[int(b_str)] = n
        return out

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Current (or time-travel) snapshot as a DataFrame with the
        snapshot's schema. Files are read grouped by their schema_id and
        cast to the snapshot schema (schema evolution without rewrite);
        merge-on-read delta files, if any, are LWW-resolved
        (:meth:`_read_state`)."""
        m = self.manifest(version)
        return self._read_state(spark, m)

    def version_at(self, ts) -> int:
        """Largest retained version committed at or before ``ts`` (the
        Iceberg/Delta ``FOR TIMESTAMP AS OF`` resolution): ``ts`` is a
        datetime or epoch-ms int, compared against each snapshot's
        commit stamp (``summary.ts_ms``; a rare stamp-less version —
        e.g. a published WAP stage — inherits its predecessor's stamp,
        which is conservative: commits are serialized, so its true time
        is >= that). Raises if the probe predates every retained
        snapshot (expired history cannot be travelled to)."""
        import datetime as _dt

        if isinstance(ts, _dt.datetime):
            probe = int(ts.timestamp() * 1000)
        else:
            probe = int(ts)
        best = None
        last_ts = None
        for m in snapshots.docs(self.snap_dir):
            t = m.get("summary", {}).get("ts_ms", last_ts)
            last_ts = t
            if t is not None and t <= probe:
                best = m["version"]
        if best is None:
            raise ValueError(
                f"no retained snapshot at or before ts_ms={probe} "
                "(history may have been expired)"
            )
        return best

    def read_asof(self, spark: SparkSession, ts) -> DataFrame:
        """Time travel by TIMESTAMP (``FOR TIMESTAMP AS OF`` analogue):
        read the snapshot current as of ``ts`` (datetime or epoch ms).
        Same read path as :meth:`read` at :meth:`version_at`."""
        return self.read(spark, version=self.version_at(ts))

    def watermark_history(self) -> list[dict]:
        """Replay-watermark lineage of every retained snapshot, oldest
        first: ``{version, offset_file, offset_pos, txn_end_file,
        txn_end_pos}`` (positions ``None`` where the snapshot carries no
        checkpoint — the create commit, or a C5-cleared checkpoint).
        Driver-side manifest reads only (cost note on
        :func:`snapshots.docs`); the cross-table
        consistent-read fence
        (:func:`mysql_tracker_spark.runner.consistent_read`) is
        derived from this."""
        out = []
        for m in snapshots.docs(self.snap_dir):
            p = m.get("properties", {})
            out.append(
                {
                    "version": m["version"],
                    "offset_file": p.get("offset_file") or None,
                    "offset_pos": int(p["offset_pos"]) if p.get("offset_pos") else None,
                    "txn_end_file": p.get("txn_end_file") or None,
                    "txn_end_pos": int(p["txn_end_pos"]) if p.get("txn_end_pos") else None,
                }
            )
        return out

    def row_count(
        self, spark: SparkSession | None = None, version: int | None = None
    ) -> int:
        """Live row count. When the snapshot is DELTA-FREE the answer
        folds straight out of the manifest's per-file record-count
        stats — zero Spark jobs, zero data reads (Iceberg's
        count(*)-from-manifests optimization): base files hold exactly
        one live row per key by the COW merge invariant. With
        merge-on-read deltas present the count requires LWW resolution
        (deltas supersede and tombstone base rows), so it falls back to
        counting the resolved read — pass ``spark`` for that case.
        Files committed before record counts were stamped (``rows``
        missing) also force the fallback rather than undercounting."""
        m = self.manifest(version)
        entries = [fe for fs in m["buckets"].values() for fe in fs]
        if all(not fe.get("delta") and fe.get("rows") is not None for fe in entries):
            return sum(fe["rows"] for fe in entries)
        if spark is None:
            raise ValueError(
                "row_count over merge-on-read deltas (or pre-stats files) "
                "needs a SparkSession to resolve"
            )
        return self._read_state(spark, m).count()

    def buckets_for_keys(
        self, spark: SparkSession, keys: list, version: int | None = None
    ) -> list[int]:
        """Bucket ids owning ``keys`` — computed on the driver with
        :func:`.spark_hash.pmod_bucket`, the Murmur3 twin of
        :func:`_bucket_expr` that tests/test_spark_hash.py
        property-tests against ``F.hash``. Placing a key submits no
        Spark job, so a point read pays only for its scan (``spark``
        is not used; the signature stays for callers).

        ``version`` computes placement under THAT snapshot's layout —
        a time-travel point read across a rescale/split boundary must
        hash with the historical ``n_buckets``, or it opens buckets
        that did not exist (and silently misses the row). Null keys
        own no row (key columns are non-null) and place nowhere."""
        m = self.manifest(version)
        ktype = next(
            f.dataType.typeName()
            for f in self._schema_of(m).fields
            if f.name == m["bucket_by"]
        )
        return sorted(
            {pmod_bucket(k, ktype, m["n_buckets"]) for k in keys if k is not None}
        )

    def read_for_keys(
        self, spark: SparkSession, keys: list, version: int | None = None
    ) -> DataFrame:
        """Point/serving read: rows whose bucket key is in ``keys``,
        opening ONLY the buckets that can contain them. ``read()``
        scans every live file; at 10^10 rows fetching one conversation
        must touch 1/n_buckets of the table, not all of it — the same
        pruning a bucket-partitioned Iceberg scan gets from its
        partition spec. Within the bucket, manifest min/max key stats
        skip files whose key range excludes every requested key — under
        merge-on-read that drops the delta files of unrelated batches,
        so the point-read tax is the base file + only the deltas that
        actually touched the key (skipping is LWW-sound: a skipped file
        provably holds no row of these keys). The residual ``isin``
        filter is pushed to the parquet scan (hash collisions share a
        bucket)."""
        m = self.manifest(version)
        bks = self.buckets_for_keys(spark, keys, version=version)
        col = m["bucket_by"]
        klist = list(keys)
        df = self._read_state(
            spark,
            m,
            bucket_ids=bks,
            file_filter=lambda fe: _stats_keep_keys(fe, col, klist),
        )
        return df.filter(F.col(col).isin(klist))

    def live_files_where(
        self, col: str, lo=None, hi=None, version: int | None = None
    ) -> list[str]:
        """Relative paths of live files that MAY hold rows with
        ``lo <= col <= hi``, per manifest min/max stats (driver-only;
        the planning half of :meth:`read_where`, exposed for tests and
        maintenance tooling)."""
        m = self.manifest(version)
        return [
            fe["path"]
            for files in m["buckets"].values()
            for fe in files
            if _stats_keep_range(fe, col, lo, hi)
        ]

    def read_where(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame:
        """Range-predicate read ``lo <= col <= hi`` (either bound may
        be None) with manifest-level FILE SKIPPING — the Iceberg
        data-skipping model: files whose stamped min/max bounds exclude
        the range are never opened, and the exact residual predicate
        still applies to whatever is read.

        Skipping soundness depends on what ``col`` is:

        - a KEY column: rows of a key never move between files except
          by commits that rewrite both, so skipping applies even with
          merge-on-read deltas in scope (same argument as
          :meth:`read_for_keys`).
        - a PAYLOAD column (e.g. ``ts``): an update can change the
          value, so under deltas a key's live row may pass the filter
          while sitting in a file whose OLD version dominates another
          file's range. Payload-column skipping therefore only engages
          on delta-free scopes (the common steady state after
          compaction); with deltas present the read falls back to full
          LWW resolution, filtered afterwards — always correct.

        Single-predicate special case of :meth:`read_where_all`.
        """
        return self.read_where_all(spark, {col: (lo, hi)}, version=version)

    def read_where_all(
        self,
        spark: SparkSession,
        preds: dict,
        version: int | None = None,
    ) -> DataFrame:
        """Conjunctive range read ``AND_i lo_i <= col_i <= hi_i`` with
        manifest file skipping on EVERY predicate column — the natural
        companion of Z-ORDER compaction (each file carries tight bounds
        on all clustered columns, so a 2-D box touches only the curve
        segments that intersect it). ``preds`` maps column -> (lo, hi),
        either bound None = unbounded. Skipping soundness follows
        :meth:`read_where`: payload-column skipping engages only on
        delta-free scopes (all-key-column predicates always skip);
        the exact residual predicate always applies."""
        m = self.manifest(version)
        key_like = all(
            c == m["bucket_by"] or c in m["key_cols"] for c in preds
        )
        entries = [fe for fs in m["buckets"].values() for fe in fs]
        pp = _prune_preds_utc(spark, preds)
        ff = lambda fe: all(  # noqa: E731
            _stats_keep_range(fe, c, lo, hi) for c, (lo, hi) in pp.items()
        )
        if key_like or not any(fe.get("delta") for fe in entries):
            df = self._read_state(spark, m, file_filter=ff)
        else:
            df = self._read_state(spark, m)
        for c, (lo, hi) in preds.items():
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(c) <= F.lit(hi))
        return df

    def read_where_in(
        self,
        spark: SparkSession,
        col: str,
        values: list,
        version: int | None = None,
    ) -> DataFrame:
        """Point/IN read ``col IN (values)`` on ANY column with
        manifest-level file skipping: min/max bounds first, then the
        per-file BLOOM bitmap when the table was created with
        ``bloom_cols`` — the Delta bloom-index analogue for
        high-cardinality columns whose values scatter across files, so
        range bounds can never prune (e.g. an exact-text audit lookup
        over transcripts). A file is opened only if, for SOME probe
        value, all k of its bloom bits are set; bloom false negatives
        are impossible by construction, so skipping is exact on the
        miss side. Probe positions come from one tiny Spark job running
        the SAME xxhash64 the write side stamped with (no driver-side
        twin of it exists, unlike the Murmur3 placement
        :meth:`buckets_for_keys` computes).

        Skipping soundness mirrors :meth:`read_where_all`: a KEY column
        skips under merge-on-read deltas too; a PAYLOAD column skips
        only on delta-free scopes (an update may have moved a key's
        live value between files) — with deltas present the read falls
        back to full LWW resolution. The exact ``isin`` residual always
        applies. Files committed before the bloom existed carry no
        bitmap and are kept."""
        m = self.manifest(version)
        values = list(values)
        df_schema = self.schema(version)
        if not values:
            return self._read_state(spark, m).filter(F.lit(False))
        dtype = next(f.dataType for f in df_schema.fields if f.name == col)
        probe_ps = _bloom_probe_positions(spark, dtype, values)

        def ff(fe):
            if not _stats_keep_keys(fe, col, values):
                return False
            bl = (fe.get("bloom") or {}).get(col)
            if bl is None:
                return True
            return any(_bloom_contains(bl, ps) for ps in probe_ps)

        key_like = col == m["bucket_by"] or col in m["key_cols"]
        entries = [fe for fs in m["buckets"].values() for fe in fs]
        if key_like or not any(fe.get("delta") for fe in entries):
            df = self._read_state(spark, m, file_filter=ff)
        else:
            df = self._read_state(spark, m)
        return df.filter(F.col(col).isin(values))

    def changed_buckets(self, from_version: int, to_version: int | None = None) -> list[int]:
        """Buckets whose file lists differ between the two snapshots.
        COW invariant: an untouched bucket carries the SAME file entries
        forward by reference, so list equality == data equality — the
        changelog scan below never opens an unchanged bucket."""
        mf = self.manifest(from_version)
        mt = self.manifest(to_version if to_version is not None else self.current_version())
        out = []
        for b in sorted(set(mf["buckets"]) | set(mt["buckets"]), key=int):
            if mf["buckets"].get(b, []) != mt["buckets"].get(b, []):
                out.append(int(b))
        return out

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Row-level CHANGELOG between two committed snapshots (the
        Iceberg incremental/changelog-scan analogue — and the engine's
        answer to the reference's Kafka verification consumer, S6: a
        downstream consumer reads exactly what changed, with offsets
        riding in the snapshots' properties). Returns
        ``op ∈ {insert, update, delete}`` + the key columns + the row
        image (post-image for insert/update, pre-image for delete),
        aligned to the ``to`` snapshot's schema.

        Scale shape: only CHANGED buckets are read on either side
        (:meth:`changed_buckets` — COW carries untouched buckets
        forward by reference), the diff is one key-equi full-outer
        join co-partitioned by the bucket key, and carried-forward
        identical rows inside rewritten buckets are dropped by a
        null-safe payload comparison — cost tracks the working set,
        not table size."""
        to_v = to_version if to_version is not None else self.current_version()
        mf, mt = self.manifest(from_version), self.manifest(to_v)
        target = T.StructType.fromJson(mt["schemas"][str(mt["schema_id"])])
        schemas = {**mf["schemas"], **mt["schemas"]}
        key = mt["key_cols"]
        changed = self.changed_buckets(from_version, to_v)
        # per-side STATE reads (delta-resolved): under merge-on-read a
        # bucket's raw files hold superseded rows and tombstones — the
        # diff below needs one live row per key on each side
        old = self._read_state(
            spark, mf, bucket_ids=changed, target=target, schemas=schemas,
            renames=mt.get("renames"), cur_sid=mt["schema_id"],
        ).withColumn("__o", F.lit(True))
        new = self._read_state(
            spark, mt, bucket_ids=changed, target=target, schemas=schemas,
            renames=mt.get("renames"), cur_sid=mt["schema_id"],
        ).withColumn("__n", F.lit(True))
        non_key = [f.name for f in target.fields if f.name not in key]
        o, n = old.alias("o"), new.alias("n")
        cond = None
        for k in key:
            c = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
            cond = c if cond is None else (cond & c)
        j = o.join(n, cond, "full_outer")
        has_o, has_n = F.col("o.__o").isNotNull(), F.col("n.__n").isNotNull()
        op = (
            F.when(~has_o, F.lit("insert"))
            .when(~has_n, F.lit("delete"))
            .otherwise(F.lit("update"))
        )
        same_payload = F.struct(*[F.col(f"o.{c}") for c in non_key]).eqNullSafe(
            F.struct(*[F.col(f"n.{c}") for c in non_key])
        )
        return (
            j.filter(~(has_o & has_n & same_payload))
            .select(
                op.alias("op"),
                *[F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k) for k in key],
                *[
                    F.when(has_n, F.col(f"n.{c}")).otherwise(F.col(f"o.{c}")).alias(c)
                    for c in non_key
                ],
            )
        )

    # ----------------------------------------------------------------- write

    def _collect_staged_entries(
        self, abs_dir: str, rel_dir: str, sid: int, stat_cols: list[str]
    ) -> dict[int, list[dict]]:
        """Walk a bucket-partitioned staging dir (``__bucket=N/*.parquet``)
        and build the manifest file entries — path, schema_id, footer
        row count, footer min/max stats. THE one implementation shared
        by :meth:`_write_buckets` and :meth:`adopt_delta`; the entry
        shape must never diverge between the write and adopt paths."""
        out: dict[int, list[dict]] = {}
        for entry in sorted(os.listdir(abs_dir)):
            if not entry.startswith(f"{_BUCKET_COL}="):
                continue
            b = int(entry.split("=", 1)[1])
            bdir = os.path.join(abs_dir, entry)
            for fn in sorted(os.listdir(bdir)):
                if fn.endswith(".parquet"):
                    full = os.path.join(bdir, fn)
                    out.setdefault(b, []).append(
                        {
                            "path": os.path.join(rel_dir, entry, fn),
                            "schema_id": sid,
                            # per-file record count + column min/max
                            # bounds from the parquet FOOTER (Iceberg
                            # manifest file-stats model; one driver-side
                            # metadata read per written file, no Spark
                            # job) — powers per-partition lineage, the
                            # files() metadata table, manifest-only
                            # row_count, and read-path file skipping
                            "rows": _footer_rows(full),
                            **(
                                {"stats": s}
                                if (s := _footer_stats(full, stat_cols))
                                else {}
                            ),
                        }
                    )
        return out

    def _write_buckets(
        self,
        df: DataFrame,
        schema: T.StructType,
        n_buckets: int | None = None,
        extra_cols: list[str] | None = None,
        sort_by: str | list[str] | None = None,
        files_per_bucket: int = 1,
        base_manifest: dict | None = None,
    ) -> dict[int, list[dict]]:
        """Write rows (must carry __bucket) partitioned by bucket into the
        data dir; return bucket -> file entries. One Spark job; files land
        under a unique staging subdir so concurrent writers never collide.
        ``n_buckets`` overrides the manifest's count (rescale path).

        ``base_manifest`` is the manifest the CALLER planned the write
        against — the stamped ``schema_id`` comes from it, so a schema
        commit landing concurrently (mid-Spark-job) cannot mislabel
        files written under the old schema with the new id (readers
        would align the old bytes to the wrong column set: a renamed
        column's data would read as NULL for the whole batch).

        ``sort_by`` switches to RANGE-CLUSTERED layout (Iceberg
        sort-order analogue): rows are range-partitioned on
        ``(__bucket, sort_by)`` into ~``files_per_bucket`` files per
        bucket and sorted within each, so every output file covers a
        tight ``sort_by`` interval — its stamped min/max bounds then
        let :meth:`read_where` skip most of a bucket instead of opening
        its whole live set. The range partitioner balances ROWS, so a
        bucket with more data naturally gets more files (skew-adaptive
        at 10^10 rows).

        A LIST of two+ columns switches to Z-ORDER clustering (Delta
        ``OPTIMIZE ZORDER BY`` analogue): rows are clustered along the
        interleaved-bit curve of the sampled rank codes
        (:func:`_zvalue_expr`), so every file carries tight min/max
        bounds on ALL the listed columns and range reads prune on any
        one of them."""
        stage = f"stage-{uuid.uuid4().hex[:12]}"
        stage_dir = os.path.join(self.data_dir, stage)
        m0 = base_manifest if base_manifest is not None else self.manifest()
        cols = [f.name for f in schema.fields] + list(extra_cols or [])
        nb = n_buckets if n_buckets is not None else m0["n_buckets"]
        sort_cols = (
            [sort_by] if isinstance(sort_by, str) else list(sort_by or [])
        )
        missing = [c for c in sort_cols if c not in cols]
        if missing:
            raise ValueError(f"sort_by columns not in schema: {missing}")
        stat_cols = self._stat_cols(m0, schema)
        # clustered columns get bounds too — that's the point
        stat_cols += [c for c in sort_cols if c not in stat_cols]
        shaped = df.select(_BUCKET_COL, *cols)
        if len(sort_cols) > 1:
            shaped = (
                shaped.withColumn("__zval", _zvalue_expr(shaped, sort_cols))
                .repartitionByRange(
                    nb * max(int(files_per_bucket), 1),
                    F.col(_BUCKET_COL),
                    F.col("__zval"),
                )
                .sortWithinPartitions(_BUCKET_COL, "__zval")
                .drop("__zval")
            )
        elif sort_cols:
            # contiguous (__bucket, sort_by) ranges: a partition holds
            # one bucket's rows for one sort interval (boundaries may
            # straddle two buckets; partitionBy below files each row
            # into its own bucket dir regardless)
            shaped = shaped.repartitionByRange(
                nb * max(int(files_per_bucket), 1),
                F.col(_BUCKET_COL),
                F.col(sort_cols[0]),
            ).sortWithinPartitions(_BUCKET_COL, sort_cols[0])
        else:
            # repartition by the BUCKETING KEY into P | nb partitions:
            # bucket b is written by task b mod P (see _bucket_expr), so
            # each bucket dir gets exactly one file
            p = _write_tasks(nb, df.sparkSession.sparkContext.defaultParallelism)
            shaped = shaped.repartition(p, F.col(m0["bucket_by"]))
        (
            shaped
            .write.partitionBy(_BUCKET_COL)
            .mode("overwrite")
            .parquet(stage_dir)
        )
        out = self._collect_staged_entries(
            stage_dir, os.path.join("data", stage), m0["schema_id"], stat_cols
        )
        bloom_cols = [c for c in m0.get("bloom_cols", []) if c in cols]
        if bloom_cols and out:
            self._stamp_blooms(
                df.sparkSession,
                stage_dir,
                T.StructType([shaped.schema[c] for c in bloom_cols]),
                out,
            )
        return out

    def _stamp_blooms(
        self, spark, stage_dir: str, bloom_schema: T.StructType, out: dict
    ) -> None:
        """Attach per-(file, column) bloom bitmaps to freshly written
        file entries. ONE distributed job over the staged files: read
        only the bloom columns, explode each row into its k positions
        per column, collect the distinct-position set per (file,
        column) — bounded by m=8192 ints however many rows a file has.
        This re-scan of just-written columns is the honest cost of a
        bloom index (Delta/Iceberg pay it at write time too); it is
        column-pruned and embarrassingly parallel. NULL values hash to
        the seed-only position (harmless shared bits); a probe never
        asks for NULL. ``bloom_schema`` holds the bloom columns as
        written, so the re-read runs no schema-inference job."""
        bloom_cols = bloom_schema.fieldNames()
        bdf = spark.read.schema(bloom_schema).parquet(stage_dir)
        rows = (
            bdf.select(
                F.input_file_name().alias("f"),
                F.explode(
                    F.array(
                        *[
                            F.struct(F.lit(ci).alias("c"), pe.alias("p"))
                            for ci, c in enumerate(bloom_cols)
                            for pe in _bloom_position_exprs(F.col(c))
                        ]
                    )
                ).alias("cp"),
            )
            .groupBy("f", "cp.c")
            .agg(F.collect_set("cp.p").alias("ps"))
            .collect()
        )
        by_rel = {
            fe["path"].split("/", 1)[1]: fe  # strip leading "data/"
            for fes in out.values()
            for fe in fes
        }
        for r in rows:
            # rsplit: the TABLE's data dir is the last "/data/" in the
            # URI — a table rooted under a path that itself contains
            # "/data/" must not shift the match
            rel = r["f"].rsplit("/data/", 1)[-1]
            fe = by_rel.get(rel)
            if fe is not None:
                fe.setdefault("bloom", {})[bloom_cols[r["c"]]] = _bloom_hex(
                    r["ps"]
                )

    def _stat_cols(self, m: dict, schema: T.StructType) -> list[str]:
        """Columns worth min/max bounds in the manifest: the bucket key
        and key columns (point-read/delta skipping) plus every
        timestamp/date column (time-range scans). Bounding every column
        would bloat manifests at 10^10-row scale for predicates nobody
        pushes; these are the ones the engine's read paths prune on."""
        out: list[str] = []
        for c in [m["bucket_by"], *m["key_cols"]]:
            if c not in out:
                out.append(c)
        for f in schema.fields:
            if isinstance(f.dataType, (T.TimestampType, T.DateType)):
                if f.name not in out:
                    out.append(f.name)
        return out

    def overwrite(self, df: DataFrame, properties: dict[str, str] | None = None) -> int:
        """Replace the whole table content (used for initial loads)."""
        m = self.manifest()
        schema = self._schema_of(m)
        dfb = df.withColumn(_BUCKET_COL, _bucket_expr(m["bucket_by"], m["n_buckets"]))
        buckets = self._write_buckets(dfb, schema, base_manifest=m)
        new = dict(m)
        new["version"] = m["version"] + 1
        new["parent"] = m["version"]
        new["buckets"] = {str(b): files for b, files in buckets.items()}
        new["properties"] = {**m["properties"], **(properties or {})}
        new["summary"] = {"operation": "overwrite", "ts_ms": int(time.time() * 1000)}
        return self._commit(new)

    def rescale_buckets(
        self,
        spark: SparkSession,
        new_n_buckets: int,
        properties: dict[str, str] | None = None,
    ) -> int:
        """Change the table's bucket count (Iceberg's
        ``bucket(N, key)`` partition-evolution analogue, done eagerly):
        re-hash every row into ``new_n_buckets`` buckets and commit one
        new snapshot. The bucket count is fixed at create() for the
        MERGE fast path (bucket b is written by task b mod P off a
        single exchange, P dividing the count), but a table that grows
        100x needs wider buckets or every COW rewrite touches files
        100x the working set — this is the migration lever.

        One full-table Spark job (read aligned to the current schema,
        one repartition on the bucketing key into P partitions, P
        dividing ``new_n_buckets``, bucket-partitioned write). Data
        content is IDENTICAL by construction: history stays
        time-travelable, a changelog scan across the rescale
        boundary yields zero rows (same keys, same payloads), and
        subsequent merges pick up the new count from the manifest.
        Concurrent writers are fenced by the optimistic snapshot commit
        exactly like merge."""
        m = self.manifest()
        if new_n_buckets == m["n_buckets"]:
            return m["version"]
        if new_n_buckets < 1:
            raise ValueError(f"new_n_buckets must be >= 1, got {new_n_buckets}")
        schema = self._schema_of(m)
        df = self.read(spark).withColumn(
            _BUCKET_COL, _bucket_expr(m["bucket_by"], new_n_buckets)
        )
        buckets = self._write_buckets(df, schema, n_buckets=new_n_buckets, base_manifest=m)
        new = dict(m)
        new["version"] = m["version"] + 1
        new["parent"] = m["version"]
        new["n_buckets"] = new_n_buckets
        new["buckets"] = {str(b): files for b, files in buckets.items()}
        new["properties"] = {**m["properties"], **(properties or {})}
        new["summary"] = {
            "operation": "rescale-buckets",
            "from_n_buckets": m["n_buckets"],
            "to_n_buckets": new_n_buckets,
            "ts_ms": int(time.time() * 1000),
        }
        return self._commit(new)

    def split_buckets(
        self, factor: int, properties: dict[str, str] | None = None
    ) -> int:
        """PROGRESSIVE bucket-count growth — the 100 TB migration lever
        :meth:`rescale_buckets` (one full-table rewrite job) cannot be:
        multiply the bucket count by an integer ``factor`` in a
        METADATA-ONLY commit, instantly, at any table size, with zero
        data movement (Iceberg partition-evolution analogue for the
        ``bucket(N, key)`` transform, restricted to compatible N→k·N
        splits).

        Spark's placement satisfies ``pmod(h, k·N) ≡ pmod(h, N)
        (mod N)``, so old bucket ``b`` splits into exactly the child
        buckets ``{b + i·N}``. The commit re-references each of old
        bucket ``b``'s physical files from all ``k`` children, each
        carrying a ``residual`` — a read-time predicate selecting only
        that child's rows. Every read/merge/delete path applies
        residuals automatically (and a full-table scan collapses
        complete sibling sets back to one plain pass, see
        :meth:`_read_aligned`), pruning stats/blooms stay sound because
        the parent's are a superset of each child's.

        Migration then completes INCREMENTALLY: any COW merge rewrites
        its affected child buckets into owned files as a side effect,
        and :meth:`compact` (which auto-targets shared buckets, or
        explicit ``bucket_ids`` for bounded per-step work) materializes
        the rest — k child buckets at a time, never one monolithic job.
        Orphaned parent files are reclaimed by snapshot expiry / gc
        once no child references them.

        Shared entries drop their ``rows`` stat (a child's share is
        unknown without reading), so manifest-only ``row_count`` falls
        back to a counting read until migration completes — the honest
        trade for an O(1) layout change. Returns the new version."""
        m = self.manifest()
        if not isinstance(factor, int) or factor < 2:
            raise ValueError(f"split factor must be an integer >= 2, got {factor!r}")
        old_n = m["n_buckets"]
        new_n = old_n * factor
        residual_base = {"col": m["bucket_by"], "sid": m["schema_id"], "n": new_n}
        new_buckets: dict[str, list[dict]] = {}
        for b_str, files in m["buckets"].items():
            b = int(b_str)
            for i in range(factor):
                child = b + i * old_n
                new_buckets[str(child)] = [
                    {
                        **{k: v for k, v in fe.items() if k not in ("rows", "residual")},
                        # a re-split replaces the residual: the newest
                        # (finest) predicate implies every older one.
                        # parent_n = the layout the FILE was written
                        # under (carried through re-splits): the file
                        # holds exactly one parent-layout bucket's rows,
                        # which is what the read-side sibling-collapse
                        # coverage check keys off
                        "residual": {
                            **residual_base,
                            "id": child,
                            "parent_n": (fe.get("residual") or {}).get(
                                "parent_n", old_n
                            ),
                        },
                    }
                    for fe in files
                ]
        new = dict(m)
        new["version"] = m["version"] + 1
        new["parent"] = m["version"]
        new["n_buckets"] = new_n
        new["buckets"] = new_buckets
        new["properties"] = {**m["properties"], **(properties or {})}
        new["summary"] = {
            "operation": "split-buckets",
            "factor": factor,
            "from_n_buckets": old_n,
            "to_n_buckets": new_n,
            "ts_ms": int(time.time() * 1000),
        }
        return self._commit(new)

    def shared_buckets(self, version: int | None = None) -> list[int]:
        """Bucket ids still referencing SHARED (residual) files from a
        :meth:`split_buckets` — the migration backlog meter; empty once
        merges/compaction have materialized every child."""
        m = self.manifest(version)
        return sorted(
            int(b)
            for b, files in m["buckets"].items()
            if any(fe.get("residual") for fe in files)
        )

    def merge(
        self,
        spark: SparkSession,
        changes: DataFrame,
        delete_col: str = "__delete",
        properties: dict[str, str] | None = None,
        affected_buckets: list[int] | None = None,
        count_upserts: bool = True,
        stage_as: str | None = None,
    ) -> tuple[int | None, dict]:
        """Copy-on-write MERGE: upsert non-delete change rows, remove
        delete rows, keyed on ``key_cols``. ``changes`` must hold exactly
        one row per key (run LWW dedup first), the current schema's
        columns, and a boolean ``delete_col``.

        Only buckets containing changed keys are rewritten; everything
        else carries forward by reference. Callers that already know the
        affected bucket set (the runner computes it in the same pass as
        its offset manifest) pass ``affected_buckets`` — then the whole
        merge is a single Spark job (the bucket-partitioned write).
        ``count_upserts=False`` skips the upsert-count job (callers that
        track row counts upstream — the runner observes its own batch
        pass; an Observation here would deadlock under foreachBatch's
        nested AQE execution). Returns (version, stats).

        ``stage_as=<wap_id>`` switches to write-audit-publish staging
        (Iceberg's ``spark.wap.id`` analogue): all data files are
        written, but the snapshot lands under ``snapshots/staged/``
        instead of the version chain — invisible to readers until
        :meth:`publish_staged`, auditable via :meth:`read_staged`,
        discardable via :meth:`abort_staged`. Returns (None, stats).
        """
        m = self.manifest()
        schema = self._schema_of(m)
        key_cols = m["key_cols"]
        nb = m["n_buckets"]

        ch = changes.withColumn(_BUCKET_COL, _bucket_expr(m["bucket_by"], nb))
        cached = None
        if affected_buckets is None:
            ch = ch.cache()
            cached = ch
            affected = sorted(r[0] for r in ch.select(_BUCKET_COL).distinct().collect())
        else:
            affected = sorted(affected_buckets)
        try:
            return self._merge_body(
                spark, m, schema, key_cols, nb, ch, affected, delete_col,
                count_upserts, properties, stage_as,
            )
        finally:
            # release on EVERY path: a Spark failure mid-merge must not
            # pin the batch in the memory store for the session's
            # lifetime (a retry loop would accumulate one cached batch
            # per failure)
            if cached is not None:
                cached.unpersist()

    def _merge_body(
        self, spark, m, schema, key_cols, nb, ch, affected, delete_col,
        count_upserts, properties, stage_as,
    ):
        upserts = ch.filter(~F.col(delete_col)).drop(delete_col)
        n_upserts = upserts.count() if count_upserts else -1

        # current LIVE rows of affected buckets, minus changed keys.
        # _read_state is the plain aligned read when the buckets hold
        # no merge-on-read deltas (the pure-COW fast path, plan
        # unchanged); with deltas present it LWW-resolves them, so a
        # COW merge over a MOR bucket also acts as its compaction.
        aff = set(affected)
        has_files = any(
            m["buckets"].get(str(b)) for b in affected
        )
        survivors = None
        if has_files:
            target = self._read_state(spark, m, bucket_ids=affected)
            # anti-join away all changed keys (updates + deletes);
            # change set is one deduped row per key → broadcastable
            # when small; Catalyst/AQE picks the strategy.
            survivors = target.join(
                ch.select(*key_cols), on=key_cols, how="left_anti"
            ).withColumn(_BUCKET_COL, _bucket_expr(m["bucket_by"], nb))

        merged = upserts.select(_BUCKET_COL, *[f.name for f in schema.fields])
        if survivors is not None:
            merged = survivors.select(
                _BUCKET_COL, *[f.name for f in schema.fields]
            ).unionByName(merged)

        new_files = self._write_buckets(merged, schema, base_manifest=m)
        # fence a stale caller-supplied bucket set: if the write filed
        # rows into buckets OUTSIDE `affected` (the caller computed the
        # set under an older layout and a rescale/split committed in
        # between), silently keeping only the `affected` subset would
        # permanently drop those upserts — the same layout race
        # _commit_delta fences with base_n_buckets
        stray = sorted(
            b for b, fs in new_files.items() if fs and b not in aff
        )
        if stray:
            raise CommitConflictError(
                f"merge wrote rows into buckets {stray} outside the "
                f"caller's affected_buckets — the bucket layout changed "
                "under this merge; replay against the new head"
            )

        summary = {
            "operation": "merge",
            "ts_ms": int(time.time() * 1000),
            "affected_buckets": len(affected),
            "upserts": n_upserts,
            # per-partition commit footprint: live rows written into
            # each rewritten bucket (survivors + upserts), from footer
            # stats — north_star's per-partition lineage row counts
            "bucket_rows": _bucket_rows(new_files),
        }
        rewritten = {b: new_files.get(b, []) for b in affected}
        if stage_as is not None:
            new_buckets = {
                b_str: files
                for b_str, files in m["buckets"].items()
                if int(b_str) not in aff
            }
            for b in affected:
                new_buckets[str(b)] = rewritten[b]
            new = dict(m)
            new["version"] = m["version"] + 1
            new["parent"] = m["version"]
            new["buckets"] = new_buckets
            new["properties"] = {**m["properties"], **(properties or {})}
            new["summary"] = {**summary, "wap_id": stage_as}
            new["wap"] = {"id": stage_as, "mode": "cow"}
            self._stage_write(new, stage_as)
            return None, new["summary"]
        return self._commit_cow(m, affected, rewritten, properties, summary)

    def merge_mor(
        self,
        spark: SparkSession,
        changes: DataFrame,
        delete_col: str = "__delete",
        properties: dict[str, str] | None = None,
        stage_as: str | None = None,
    ) -> tuple[int | None, dict]:
        """MERGE-ON-READ upsert (Iceberg v2 equality-delete analogue):
        instead of rewriting every affected bucket (copy-on-write),
        append the LWW-deduped change set itself — tombstones included —
        as per-bucket DELTA files stamped with the committing snapshot
        version. Reads resolve base+deltas with
        ``max_by(payload, seq)`` (:meth:`_read_state`);
        :meth:`compact` folds deltas back into base files.

        Why this exists at 10^10 events: a COW merge's cost is the size
        of the TOUCHED BUCKETS — with keys spread uniformly every
        micro-batch touches all of them, so per-batch wall grows with
        table size. merge_mor's cost is one bucket-partitioned write of
        the batch, full stop; table size never enters. The read-side
        tax is bounded by the compaction threshold (≤K deltas per
        bucket), the classic LSM trade.

        ``changes`` contract is :meth:`merge`'s: exactly one row per
        key, current-schema columns, boolean ``delete_col``.

        ``stage_as=<wap_id>`` stages instead of committing (see
        :meth:`merge`). Unlike a staged COW snapshot — which is bound
        to its parent's file set and publishes fast-forward only — a
        staged DELTA composes with any concurrent commit, so its
        publish replays through the same optimistic append path as a
        live MOR commit and never conflicts."""
        m = self.manifest()
        schema = self._schema_of(m)
        nb = m["n_buckets"]
        ch = changes.withColumn(
            _BUCKET_COL, _bucket_expr(m["bucket_by"], nb)
        ).withColumn(_TOMBSTONE, F.col(delete_col).cast("boolean"))
        new_files = self._write_buckets(
            ch, schema, extra_cols=[_TOMBSTONE], base_manifest=m
        )
        return self._stage_or_commit_delta(m, nb, new_files, properties, stage_as)

    def adopt_delta(
        self,
        staged_dir: str,
        properties: dict[str, str] | None = None,
        stage_as: str | None = None,
        base_n_buckets: int | None = None,
    ) -> tuple[int | None, dict]:
        """Zero-job MOR commit: ADOPT an already-materialized
        bucket-partitioned change set (``__bucket=N/*.parquet`` dirs,
        current-schema columns + boolean ``__delete``) as this table's
        delta files, by a single directory rename into the data dir +
        one manifest commit. The apply runner stages exactly this
        layout for its skew stats anyway, so under MOR the entire merge
        step costs NO Spark job at all. The staged dir is consumed
        (moved); crash between move and commit leaves an orphan dir
        that :meth:`gc_orphans` reaps. ``stage_as=<wap_id>`` stages for
        write-audit-publish instead of committing (see
        :meth:`merge_mor` — same composable delta-stage semantics).
        ``base_n_buckets`` is the bucket count the CALLER partitioned
        ``staged_dir`` under; pass it whenever the dir was written from
        an earlier manifest read, so a concurrent rescale/split raises
        ``CommitConflictError`` instead of silently mis-filing rows."""
        m = self.manifest()
        # the layout guard must check the layout the CALLER bucketed
        # the staged dir under — reading it here would be vacuous (a
        # split between the caller's write and this adopt would pass)
        nb = base_n_buckets if base_n_buckets is not None else m["n_buckets"]
        dest = f"mor-{uuid.uuid4().hex[:12]}"
        os.replace(staged_dir, os.path.join(self.data_dir, dest))
        stat_cols = self._stat_cols(m, self._schema_of(m))
        dest_dir = os.path.join(self.data_dir, dest)
        # NOTE (design trade-off): entries adopted here carry footer
        # stats but NO bloom bitmaps — stamping blooms needs a Spark
        # job, and adopt_delta's whole point is the zero-job commit.
        # read_where_in keeps bitmap-less files (never wrong, just
        # unpruned); compaction re-writes them through _write_buckets,
        # which stamps blooms, restoring full pruning.
        new_files = self._collect_staged_entries(
            dest_dir, os.path.join("data", dest), m["schema_id"], stat_cols
        )
        return self._stage_or_commit_delta(m, nb, new_files, properties, stage_as)

    def _stage_or_commit_delta(
        self,
        m: dict,
        nb: int,
        new_files: dict[int, list[dict]],
        properties: dict[str, str] | None,
        stage_as: str | None,
    ) -> tuple[int | None, dict]:
        """Commit delta entries written under ``m``'s head and ``nb``
        buckets (:meth:`_commit_delta`), or, with ``stage_as``, stage
        them as a write-audit-publish delta bound to that parent."""
        if stage_as is None:
            return self._commit_delta(new_files, properties, base_n_buckets=nb)
        staged = {
            "parent": m["version"],
            "wap": {
                "id": stage_as,
                "mode": "delta",
                "n_buckets": nb,
                "delta_files": {str(b): fs for b, fs in new_files.items()},
                "properties": dict(properties or {}),
            },
            "summary": {
                "operation": "merge-mor",
                "wap_id": stage_as,
                "staged_ts_ms": int(time.time() * 1000),
                "affected_buckets": len(new_files),
                "bucket_rows": _bucket_rows(new_files),
            },
        }
        self._stage_write(staged, stage_as)
        return None, staged["summary"]

    def _commit_delta(
        self,
        new_files: dict[int, list[dict]],
        properties: dict[str, str] | None,
        max_retries: int = 5,
        extra_summary: dict | None = None,
        base_n_buckets: int | None = None,
    ) -> tuple[int, dict]:
        """Append delta entries (stamped ``delta=True, seq=version``) to
        their buckets and commit — WITH optimistic-conflict retry
        (Iceberg commit semantics): on a version collision the manifest
        is re-read and the append replayed against it. Safe because a
        delta append composes with ANY concurrent commit EXCEPT a
        bucket-layout change: a concurrent compaction/COW rewrite
        leaves our entries strictly newer (seq = latest version + 1 >
        any base seq), and a concurrent delta append just interleaves
        at commit order — the same ordering an Iceberg equality-delete
        append gets. The delta FILES, though, were partitioned under
        the layout the caller saw (``base_n_buckets``); if a concurrent
        rescale/split changed ``n_buckets``, composing them would file
        rows into buckets that no longer own them — that raises
        ``CommitConflictError``: re-merge against the new head."""
        last: FileExistsError | None = None
        for _ in range(max_retries):
            m = self.manifest()
            if base_n_buckets is not None and m["n_buckets"] != base_n_buckets:
                raise CommitConflictError(
                    f"bucket layout changed ({base_n_buckets} -> "
                    f"{m['n_buckets']} buckets) under this delta append "
                    "— re-merge against the new head"
                )
            new_version = m["version"] + 1
            new_buckets = {b: list(files) for b, files in m["buckets"].items()}
            n_delta = 0
            for b, files in new_files.items():
                lst = new_buckets.setdefault(str(b), [])
                for fe in files:
                    lst.append({**fe, "delta": True, "seq": new_version})
                    n_delta += 1
            new = dict(m)
            new["version"] = new_version
            new["parent"] = m["version"]
            new["buckets"] = new_buckets
            new["properties"] = {**m["properties"], **(properties or {})}
            new["summary"] = {
                "operation": "merge-mor",
                "ts_ms": int(time.time() * 1000),
                "affected_buckets": len(new_files),
                "delta_files": n_delta,
                # per-partition commit footprint: delta rows (LWW
                # winners incl. tombstones) appended to each bucket
                "bucket_rows": _bucket_rows(new_files),
                **(extra_summary or {}),
            }
            try:
                return self._commit(new), new["summary"]
            except FileExistsError as e:
                last = e
        raise last

    def _commit_cow(
        self,
        base: dict,
        affected,
        rewritten: dict,
        properties: dict | None,
        summary: dict,
        drop_empty: bool = False,
        max_retries: int = 5,
    ) -> tuple[int, dict]:
        """Commit a copy-on-write rewrite of ``affected`` buckets that
        was computed against the ``base`` manifest — with
        optimistic-conflict REBASE (Iceberg COW commit semantics),
        shared by :meth:`merge`, :meth:`compact` and
        :meth:`delete_where`. A concurrent commit that touched only
        DISJOINT state (other buckets, properties, snapshot expiry)
        rebases onto the new head and commits with zero data work
        redone; a conflict on anything the rewrite depended on — an
        affected bucket's file list (a concurrent delta append or
        rewrite means our survivors came from a stale base: retrying
        would silently drop the other writer's rows), the schema, the
        bucket count or rename chain — raises
        :class:`CommitConflictError`; the caller replays/retries
        against the new head (the replay fence makes that safe).
        ``drop_empty`` omits buckets whose rewrite produced no files
        (compaction/delete semantics) instead of keeping an empty
        list."""
        aff = {int(b) for b in affected}

        def build(onto: dict) -> dict:
            nb = {
                b_str: files
                for b_str, files in onto["buckets"].items()
                if int(b_str) not in aff
            }
            for b in sorted(aff):
                files = rewritten.get(b, [])
                if files or not drop_empty:
                    nb[str(b)] = files
            new = dict(onto)
            new["version"] = onto["version"] + 1
            new["parent"] = onto["version"]
            new["buckets"] = nb
            new["properties"] = {**onto["properties"], **(properties or {})}
            new["summary"] = (
                dict(summary)
                if onto is base
                else {**summary, "rebased_from": base["version"]}
            )
            return new

        try:
            new = build(base)
            return self._commit(new), new["summary"]
        except FileExistsError:
            pass
        for _ in range(max_retries):
            head = self.manifest()
            if (
                head["n_buckets"] != base["n_buckets"]
                or head["schema_id"] != base["schema_id"]
                or head.get("renames") != base.get("renames")
            ):
                raise CommitConflictError(
                    "concurrent commit changed the schema or bucket "
                    "layout under this rewrite — replay against the "
                    "new head"
                )
            for b in sorted(aff):
                if head["buckets"].get(str(b), []) != base["buckets"].get(
                    str(b), []
                ):
                    raise CommitConflictError(
                        f"concurrent commit touched affected bucket {b} "
                        "under this rewrite — replay against the new head"
                    )
            try:
                new = build(head)
                return self._commit(new), new["summary"]
            except FileExistsError:
                continue
        raise CommitConflictError(
            "lost 5 consecutive optimistic commit races"
        )

    def compact(
        self,
        spark: SparkSession,
        bucket_ids: list[int] | None = None,
        properties: dict[str, str] | None = None,
        sort_by: str | list[str] | None = None,
        files_per_bucket: int = 1,
    ) -> tuple[int, list[int]]:
        """Fold merge-on-read deltas back into base files (Iceberg
        ``rewrite_data_files`` analogue): LWW-resolve the listed
        buckets (default: every bucket holding deltas) and rewrite each
        to fresh base files in ONE bucket-partitioned Spark job, then
        commit a snapshot where those buckets reference only the new
        files. Content is IDENTICAL by construction — history stays
        time-travelable and a changelog scan across the compaction
        boundary yields zero rows — and the replay watermark carries
        forward untouched, so compaction can run between any two
        applies (or concurrently, fenced by the optimistic commit).

        ``sort_by`` (Iceberg rewrite-with-sort-order analogue) range-
        clusters each compacted bucket into ~``files_per_bucket`` files
        with tight stamped ``sort_by`` bounds, restoring the file
        skipping that folding a bucket into ONE file would otherwise
        destroy: per-batch delta files are naturally ts-clustered, a
        monolithic compacted base spans the whole history. A LIST of
        two+ columns Z-ORDER-clusters instead (Delta ``OPTIMIZE ZORDER
        BY`` analogue) — bounds stay tight on every listed column, so
        range reads prune on any one of them. See
        :meth:`_write_buckets`. Returns (version, compacted bucket
        ids)."""
        m = self.manifest()
        if bucket_ids is None:
            # deltas to fold, plus post-split SHARED buckets to
            # materialize (split_buckets migration backlog)
            todo = sorted(
                int(b)
                for b, files in m["buckets"].items()
                if _has_delta(files) or any(fe.get("residual") for fe in files)
            )
        else:
            todo = sorted(bucket_ids)
        if not todo:
            return m["version"], []
        schema = self._schema_of(m)
        state = self._read_state(spark, m, bucket_ids=todo).withColumn(
            _BUCKET_COL, _bucket_expr(m["bucket_by"], m["n_buckets"])
        )
        if sort_by:
            # range/z-order clustering evaluates `state` 2-3x (boundary
            # sampling jobs + the write) — pay the expensive MOR
            # resolution once, not per sampling pass
            from pyspark import StorageLevel

            state = state.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            new_files = self._write_buckets(
                state, schema, sort_by=sort_by,
                files_per_bucket=files_per_bucket, base_manifest=m,
            )
        finally:
            if sort_by:
                state.unpersist()
        summary = {
            "operation": "compact",
            "ts_ms": int(time.time() * 1000),
            "compacted_buckets": len(todo),
            **({"sort_by": sort_by, "files_per_bucket": files_per_bucket}
               if sort_by else {}),
        }
        rewritten = {b: new_files.get(b, []) for b in todo}
        v, _ = self._commit_cow(
            m, todo, rewritten, properties, summary, drop_empty=True
        )
        return v, todo

    def delete_where(
        self,
        spark: SparkSession,
        preds: dict,
        properties: dict[str, str] | None = None,
        sort_by: str | list[str] | None = None,
        files_per_bucket: int = 1,
    ) -> tuple[int, int]:
        """Row-level conjunctive-range DELETE (Delta ``DELETE FROM ...
        WHERE`` / retention-GDPR analogue): drop every live row with
        ``AND_i lo_i <= col_i <= hi_i`` (``preds`` maps column ->
        (lo, hi), either bound None = unbounded; a NULL predicate
        column never matches, SQL semantics) and commit ONE snapshot.

        Manifest-stats pruning makes retention cheap on a clustered
        table, at FILE granularity (the Delta ``DELETE`` rewrite
        model): a file is a HIT only if its stamped min/max bounds
        intersect EVERY predicate column. Delta-free buckets rewrite
        only their hit files and carry miss files forward BY REFERENCE
        — sound because a COW bucket holds exactly one live row per
        key, so filtering a hit file cannot change any row in a miss
        file; on a ts-clustered table a retention delete therefore
        rewrites only the files actually covering the expired range.
        Buckets holding merge-on-read deltas rewrite whole (any hit
        file forces LWW resolution of the full bucket, absorbing its
        deltas like :meth:`compact`) — still sound for payload columns
        because a live row's values all come from the one row in its
        winning (``max_by`` seq) file, so a matching live row implies
        an intersecting file in its bucket. Buckets with no hit file
        at all are untouched (list equality == data equality, so the
        changelog never opens them). ``sort_by``/``files_per_bucket``
        re-cluster the rewrite exactly as in :meth:`compact`. A
        changelog scan across the boundary yields exactly the deleted
        rows as deletes.

        The replay watermark is UNTOUCHED: replay of already-committed
        batches stays a fenced no-op, and genuinely new events for a
        deleted key recreate it — the correct CDC semantics for a
        maintenance delete (retention is a statement about the table,
        not about the stream). Returns ``(version, rows_deleted)``."""
        if not preds:
            raise ValueError(
                "delete_where with no predicate would delete every row; "
                "use truncate() if that is what you mean"
            )
        m = self.manifest()
        pp = _prune_preds_utc(spark, preds)
        ff = lambda fe: all(  # noqa: E731
            _stats_keep_range(fe, c, lo, hi) for c, (lo, hi) in pp.items()
        )
        # plan the rewrite at FILE granularity: delta-free buckets
        # rewrite hit files only (misses carried by reference);
        # delta-holding buckets with any hit resolve + rewrite whole
        rewrite_entries: list[dict] = []  # delta-free hit files
        carried: dict[int, list[dict]] = {}  # delta-free miss files
        delta_todo: list[int] = []  # buckets needing full resolution
        for b_str, files in m["buckets"].items():
            hits = [fe for fe in files if ff(fe)]
            if not hits:
                continue
            b = int(b_str)
            if _has_delta(files):
                delta_todo.append(b)
            else:
                rewrite_entries.extend(hits)
                carried[b] = [fe for fe in files if not ff(fe)]
        if not rewrite_entries and not delta_todo:
            return m["version"], 0
        schema = self._schema_of(m)
        cond = F.lit(True)
        for c, (lo, hi) in preds.items():
            if lo is not None:
                cond = cond & (F.col(c) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(c) <= F.lit(hi))
        parts = []
        if delta_todo:
            parts.append(self._read_state(spark, m, bucket_ids=sorted(delta_todo)))
        if rewrite_entries:
            parts.append(
                self._read_aligned(
                    spark, rewrite_entries, m["schemas"], schema,
                    renames=m.get("renames"), cur_sid=m["schema_id"],
                )
            )
        state = parts[0]
        for p in parts[1:]:
            state = state.unionByName(p)
        keep = state.filter(~F.coalesce(cond, F.lit(False))).withColumn(
            _BUCKET_COL, _bucket_expr(m["bucket_by"], m["n_buckets"])
        )
        new_files = self._write_buckets(
            keep, schema, sort_by=sort_by,
            files_per_bucket=files_per_bucket, base_manifest=m,
        )
        # rows_deleted = rows read into the rewrite - rows written.
        # Written comes free from the freshly stamped footers; read
        # comes from the manifest footers for the delta-free hit files,
        # plus one count on the resolved state for delta buckets.
        if delta_todo:
            n_before = self._read_state(
                spark, m, bucket_ids=sorted(delta_todo)
            ).count()
        else:
            n_before = 0
        if any("rows" not in fe for fe in rewrite_entries):
            n_before += self._read_aligned(
                spark, rewrite_entries, m["schemas"], schema,
                renames=m.get("renames"), cur_sid=m["schema_id"],
            ).count()
        else:
            n_before += sum(fe["rows"] for fe in rewrite_entries)
        n_after = sum(
            fe["rows"] for files in new_files.values() for fe in files
        )
        n_deleted = n_before - n_after
        touched = set(delta_todo) | set(carried)
        summary = {
            "operation": "delete-where",
            "ts_ms": int(time.time() * 1000),
            "preds": {
                c: [None if v is None else str(v) for v in (lo, hi)]
                for c, (lo, hi) in preds.items()
            },
            "rows_deleted": int(n_deleted),
            "rewritten_buckets": len(touched),
            "rewritten_files": len(rewrite_entries),
            "resolved_buckets": len(delta_todo),
        }
        rewritten = {
            b: carried.get(b, []) + new_files.get(b, [])
            for b in sorted(touched)
        }
        v, _ = self._commit_cow(
            m, sorted(touched), rewritten, properties, summary,
            drop_empty=True,
        )
        return v, int(n_deleted)

    def truncate(self, properties: dict[str, str] | None = None) -> int:
        """TRUNCATE TABLE as an atomic empty-overwrite commit: the next
        snapshot references no data files (schema, bucketing, and
        properties survive). Idempotent under replay — re-truncating an
        empty table commits another empty snapshot. Mirrors the
        reference's TRUNCATE event class (``SimpleDdlParser.java:60-70``)
        with lakehouse semantics: history stays time-travelable."""
        m = self.manifest()
        new = dict(m)
        new["version"] = m["version"] + 1
        new["parent"] = m["version"]
        new["buckets"] = {}
        new["properties"] = {**m["properties"], **(properties or {})}
        new["summary"] = {"operation": "truncate", "ts_ms": int(time.time() * 1000)}
        return self._commit(new)

    # ------------------------------------------------------- schema evolution

    def update_schema(self, new_schema: T.StructType, note: str = "") -> int:
        """Evolve the snapshot schema (add column / widen type). Data
        files are untouched; old files keep their schema_id and are cast
        on read. Mirrors Iceberg UpdateSchema."""
        m = self.manifest()
        new_sid = max(int(s) for s in m["schemas"]) + 1
        new = dict(m)
        new["version"] = m["version"] + 1
        new["parent"] = m["version"]
        new["schemas"] = {**m["schemas"], str(new_sid): json.loads(new_schema.json())}
        new["schema_id"] = new_sid
        new["summary"] = {
            "operation": "update-schema",
            "ts_ms": int(time.time() * 1000),
            "note": note,
        }
        return self._commit(new)

    def rename_column(self, old: str, new: str, note: str = "") -> int:
        """METADATA-ONLY column rename (Iceberg ``RENAME COLUMN``
        analogue): commits a new schema with the field renamed and a
        rename record ``{sid, from, to}``; data files are untouched —
        the read path maps a file's historical column name to the
        current name through the rename chain (see
        :meth:`_aligned_scan`). Renaming the bucket/key columns updates
        the manifest's key metadata in the same commit, so MERGE
        placement stays consistent. Old files keep their stamped stats
        under the historical name — range reads on the new name simply
        stop skipping those files until they are rewritten (sound,
        never wrong)."""
        m = self.manifest()
        schema = self._schema_of(m)
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"rename_column: no column {old!r} in schema {names}")
        if new in names:
            raise ValueError(f"rename_column: column {new!r} already exists")
        new_schema = T.StructType(
            [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        new_sid = max(int(s) for s in m["schemas"]) + 1
        nm = dict(m)
        nm["version"] = m["version"] + 1
        nm["parent"] = m["version"]
        nm["schemas"] = {**m["schemas"], str(new_sid): json.loads(new_schema.json())}
        nm["schema_id"] = new_sid
        nm["renames"] = list(m.get("renames") or []) + [
            {"sid": new_sid, "from": old, "to": new}
        ]
        if nm["bucket_by"] == old:
            nm["bucket_by"] = new
        nm["key_cols"] = [new if c == old else c for c in m["key_cols"]]
        nm["summary"] = {
            "operation": "rename-column",
            "ts_ms": int(time.time() * 1000),
            "from": old,
            "to": new,
            "note": note,
        }
        return self._commit(nm)

    def column_aliases(self, version: int | None = None) -> dict[str, list[str]]:
        """Current column name -> its historical names, newest first
        (the rename chain) — consumers reading still-inflight payloads
        keyed by an older name coalesce over these."""
        m = self.manifest(version)
        current = {f.name for f in self.schema(version).fields}
        out: dict[str, list[str]] = {}
        for f in self.schema(version).fields:
            chain, n = [], f.name
            for r in sorted(m.get("renames") or [], key=lambda r: -r["sid"]):
                if n == r["to"]:
                    n = r["from"]
                    if n in current:
                        # historical name REUSED by a live column (a
                        # rename followed by re-adding the old name):
                        # coalescing over it would steal that column's
                        # values — stop the chain here
                        break
                    chain.append(n)
            if chain:
                out[f.name] = chain
        return out

    def rollback(self, to_version: int) -> int:
        """Roll the table back to an older snapshot (Iceberg
        ``rollback_to_snapshot``): commits a NEW snapshot whose buckets,
        schema, and properties — including the replay watermark
        ``offset_file/offset_pos/batch_seq`` — mirror ``to_version``.
        History is preserved (nothing is deleted; the bad snapshots
        stay time-travelable until expiry), and because the watermark
        reverts with the data, a subsequent ``CdcApplyJob.run()``
        REPLAYS the rolled-back range through the idempotent fenced
        MERGE — the operational escape hatch for a bad batch."""
        target = self.manifest(to_version)
        cur = self.manifest()
        new = dict(target)
        new["version"] = cur["version"] + 1
        new["parent"] = cur["version"]
        new["summary"] = {
            "operation": "rollback",
            "to_version": to_version,
            "ts_ms": int(time.time() * 1000),
        }
        return self._commit(new)

    # ------------------------------------------------------------------ tags

    def tag(self, name: str, version: int | None = None) -> int:
        """Named immutable snapshot ref (Iceberg tag analogue): pin a
        version under a name for audits/reproducible reads. Create-only
        (``O_EXCL`` — retagging a name is an error, like Iceberg);
        tagged snapshots are protected from :meth:`expire_snapshots`.
        Returns the pinned version."""
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name):
            raise ValueError(f"bad tag name: {name!r}")
        v = version if version is not None else self.current_version()
        self.manifest(v)  # raises if the version doesn't exist
        tags_dir = os.path.join(self.path, "tags")
        os.makedirs(tags_dir, exist_ok=True)
        payload = json.dumps({"version": v, "ts_ms": int(time.time() * 1000)})
        # torn-write-proof + fsynced: a crash must not leave a
        # truncated tag (tags() would raise, breaking expiry) or lose
        # the pin a caller was just promised (the snapshot would lose
        # its expiry protection)
        snapshots.write_file_atomic(os.path.join(tags_dir, f"{name}.json"), payload.encode())
        return v

    def tags(self) -> dict[str, int]:
        tags_dir = os.path.join(self.path, "tags")
        if not os.path.isdir(tags_dir):
            return {}
        out = {}
        for fn in os.listdir(tags_dir):
            if fn.endswith(".json"):
                with open(os.path.join(tags_dir, fn)) as f:
                    out[fn[:-5]] = json.load(f)["version"]
        return out

    def delete_tag(self, name: str) -> None:
        os.unlink(os.path.join(self.path, "tags", f"{name}.json"))

    def read_tag(self, spark: SparkSession, name: str) -> DataFrame:
        """Read the snapshot a tag pins (time-travel by name)."""
        return self.read(spark, version=self.tags()[name])

    # ------------------------------------------- write-audit-publish (WAP)
    #
    # Iceberg's staged-commit workflow (`spark.wap.id` +
    # cherry_pick_snapshot): a writer produces a COMPLETE snapshot —
    # data files and all — that is invisible to readers, an auditor
    # queries the would-be table state (not just the incoming batch:
    # table-level invariants like "no turn_idx gaps after the merge"
    # or "row count never shrinks" are only checkable post-merge),
    # and the snapshot is then atomically published or aborted. The
    # reference has no equivalent (bad rows surface only as downstream
    # HBase write failures, HandlerNoParserMagpieHBase.java) — this is
    # the lake-native upgrade of that gap, complementing the row-level
    # pre-commit gate in quality.py.

    def _staged_path(self, wap_id: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9._-]+", wap_id):
            raise ValueError(f"bad wap_id: {wap_id!r}")
        return os.path.join(self.snap_dir, "staged", f"{wap_id}.json")

    def _stage_write(self, manifest: dict, wap_id: str) -> None:
        """Exclusive-create of a staged snapshot (same atomicity as
        :meth:`_commit`; re-staging an id is an error)."""
        path = self._staged_path(wap_id)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        payload = json.dumps(manifest, indent=None, separators=(",", ":"))
        snapshots.write_file_atomic(path, payload.encode())

    def staged(self) -> list[str]:
        """Ids of pending staged snapshots."""
        d = os.path.join(self.snap_dir, "staged")
        if not os.path.isdir(d):
            return []
        return sorted(f[:-5] for f in os.listdir(d) if f.endswith(".json"))

    def staged_manifest(self, wap_id: str) -> dict:
        with open(self._staged_path(wap_id)) as f:
            return json.load(f)

    def _staged_refs(self) -> set[str]:
        """Data files referenced by pending staged snapshots — these
        must survive :meth:`expire_snapshots` / :meth:`gc_orphans`
        (a staged COW snapshot also carries forward its parent's
        untouched buckets by reference, protecting them from expiry
        until the stage is resolved)."""
        out: set[str] = set()
        for wid in self.staged():
            s = self.staged_manifest(wid)
            if s["wap"]["mode"] == "cow":
                for files in s["buckets"].values():
                    out.update(fe["path"] for fe in files)
            else:
                for fs in s["wap"]["delta_files"].values():
                    out.update(fe["path"] for fe in fs)
        return out

    def _committed_refs(self) -> set[str]:
        """Data files referenced by any retained committed snapshot."""
        return _refs(snapshots.docs(self.snap_dir))

    def read_staged(self, spark: SparkSession, wap_id: str) -> DataFrame:
        """The table state a staged snapshot WOULD produce — the audit
        surface. A staged COW snapshot is read as-is (it is a complete
        manifest bound to its parent). A staged DELTA is resolved
        against the CURRENT head (it composes with commits that landed
        after staging, so the audit sees what publish would actually
        produce)."""
        s = self.staged_manifest(wap_id)
        if s["wap"]["mode"] == "cow":
            return self._read_state(spark, s)
        m = self.manifest()
        seq = m["version"] + 1
        nb = {b: list(fs) for b, fs in m["buckets"].items()}
        for b, fs in s["wap"]["delta_files"].items():
            nb.setdefault(b, []).extend(
                {**fe, "delta": True, "seq": seq} for fe in fs
            )
        return self._read_state(spark, {**m, "buckets": nb})

    def publish_staged(
        self, wap_id: str, properties: dict[str, str] | None = None
    ) -> tuple[int, dict]:
        """Atomically promote a staged snapshot into the version chain
        (Iceberg ``cherrypick_snapshot``). COW stages publish
        fast-forward only: if ANY commit landed after staging, the
        staged file set is stale and :class:`WapConflictError` is
        raised (abort and re-stage — same contract as an Iceberg
        validation failure). DELTA stages replay through the
        optimistic append path and compose with concurrent commits.
        The staged entry is consumed on success."""
        s = self.staged_manifest(wap_id)
        mode = s["wap"]["mode"]
        if mode == "cow":
            cur = self.current_version()
            if s["parent"] != cur:
                raise WapConflictError(
                    f"staged snapshot {wap_id!r} has parent {s['parent']} "
                    f"but the table is at v{cur}: a concurrent commit "
                    "landed after staging; abort and re-stage"
                )
            new = {k: v for k, v in s.items() if k != "wap"}
            new["properties"] = {**new["properties"], **(properties or {})}
            new["summary"] = {
                **new["summary"],
                "published_ts_ms": int(time.time() * 1000),
            }
            try:
                v = self._commit(new)
            except FileExistsError as e:
                raise WapConflictError(
                    f"concurrent commit raced the publish of {wap_id!r}; "
                    "abort and re-stage"
                ) from e
            summary = new["summary"]
        else:
            delta_files = {
                int(b): fs for b, fs in s["wap"]["delta_files"].items()
            }
            props = {**s["wap"].get("properties", {}), **(properties or {})}
            v, summary = self._commit_delta(
                delta_files, props, extra_summary={"wap_id": wap_id},
                # legacy stages carry no layout stamp -> no check
                base_n_buckets=s["wap"].get("n_buckets"),
            )
        os.unlink(self._staged_path(wap_id))
        return v, summary

    def abort_staged(self, wap_id: str) -> int:
        """Discard a staged snapshot: remove its manifest and delete
        the data files it alone references (files carried forward from
        committed snapshots are untouched). Returns files removed."""
        s = self.staged_manifest(wap_id)
        if s["wap"]["mode"] == "cow":
            refs = {
                fe["path"] for files in s["buckets"].values() for fe in files
            }
        else:
            refs = {
                fe["path"]
                for fs in s["wap"]["delta_files"].values()
                for fe in fs
            }
        os.unlink(self._staged_path(wap_id))
        removed = 0
        keep = self._committed_refs() | self._staged_refs()
        for rel in refs - keep:
            try:
                os.remove(os.path.join(self.path, rel))
                removed += 1
            except FileNotFoundError:
                pass
        return removed

    # ------------------------------------------------------------- branches

    def _branches_dir(self) -> str:
        return os.path.join(self.snap_dir, "branches")

    def branch_names(self) -> list[str]:
        d = self._branches_dir()
        if not os.path.isdir(d):
            return []
        # a dir with no committed seed is crash debris from a killed
        # branch() (created-dir-then-seed window) — not a live branch:
        # listing it would wedge register_table/drop_branch behind
        # FileNotFoundError, and branch() re-adopts the name
        return sorted(
            n for n in os.listdir(d)
            if os.path.isdir(os.path.join(d, n))
            and snapshots.versions(os.path.join(d, n))
        )

    def branch(self, name: str, from_version: int | None = None) -> "_BranchTable":
        """Create a named BRANCH (Iceberg branch analogue): an
        independent snapshot chain forked from a retained main version
        (default: the current head), sharing the table's data files.
        The returned handle is a full LakeTable write/read surface —
        ``merge``/``merge_mor``/``compact``/``read``/``read_changes``/
        time travel all operate on the branch chain; main is untouched
        until :meth:`fast_forward` publishes the branch head. Data
        files referenced by any live branch are protected from main's
        snapshot expiry and orphan GC. Create-once: an existing name
        raises."""
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name):
            raise ValueError(f"bad branch name: {name!r}")
        fork = self.manifest(from_version)
        bdir = os.path.join(self._branches_dir(), name)
        try:
            os.makedirs(bdir, exist_ok=False)
        except FileExistsError:
            # an existing dir WITH a committed seed is a live branch;
            # one without is debris from a crashed create — adopt it
            # (the seed commit below is the create-once race arbiter:
            # two adopters collide on the O_EXCL seed file)
            if snapshots.versions(bdir):
                raise ValueError(f"branch {name!r} already exists") from None
        br = _BranchTable(self, name)
        # seed: a verbatim copy of the fork manifest — the branch
        # chain's first version IS the fork point (fork_version() =
        # min version present), so no sidecar ref file is needed and
        # every chain-walking surface (changelog, history, watermark
        # fencing) works unmodified
        try:
            br._commit(fork)
        except FileExistsError:
            raise ValueError(f"branch {name!r} already exists") from None
        return br

    def load_branch(self, name: str) -> "_BranchTable":
        br = _BranchTable(self, name)
        if br.current_version() is None:
            raise FileNotFoundError(f"no branch {name!r} at {self.path}")
        return br

    def _branch_refs(self) -> set[str]:
        """Data files referenced by any snapshot of any live branch —
        protected from main-side expiry/GC until the branch is
        fast-forwarded or dropped (the Iceberg refs-aware retention
        contract). Includes each branch's pending WAP stages."""
        out: set[str] = set()
        for name in self.branch_names():
            br = _BranchTable(self, name)
            out |= br._committed_refs() | br._staged_refs()
        return out

    def fast_forward(
        self,
        name: str,
        properties: dict[str, str] | None = None,
        spark: SparkSession | None = None,
    ) -> int:
        """Publish a branch head onto main (Iceberg
        ``fast_forward('main', branch)``): main must still be at the
        branch's fork point — a commit that landed on main after the
        fork raises :class:`CommitConflictError` (replay the branch's
        work against the new head instead; blind adoption would drop
        that commit's rows). The branch's commits squash into ONE main
        version (our main chain is linear); the head manifest carries
        the branch's final schema, layout, file set, and properties —
        including the replay watermark, so a CDC apply job fenced on
        the branch resumes correctly on main. The branch ref is
        consumed on success.

        A branch head holding merge-on-read DELTA entries is compacted
        first (``spark`` required then): delta seqs are BRANCH commit
        numbers, which can exceed the single squashed main version —
        published raw, a later main MOR commit would stamp an equal-or-
        lower seq and the ``max_by(seq)`` read would silently prefer
        the stale branch delta over the newer main write. Compaction
        folds the deltas into base files (seq-free), making the squash
        sound. Pending WAP stages on the branch must be published or
        aborted first — fast-forward refuses rather than silently
        destroying a staged audit snapshot."""
        br = self.load_branch(name)
        if br.staged():
            raise ValueError(
                f"branch {name!r} has pending WAP stages "
                f"{br.staged()}: publish or abort them on the branch "
                "before fast-forwarding"
            )
        fork = br.fork_version()
        head = br.manifest()
        cur = self.current_version()
        if cur != fork:
            # a crash between a previous fast_forward's main commit and
            # its branch-ref cleanup leaves an ALREADY-PUBLISHED branch
            # behind; without this check the retry would raise a
            # misleading "commit landed on main" conflict forever. Scan
            # the main chain since the fork for this exact publish and
            # finish the cleanup as a no-op instead.
            for v in range(fork + 1, cur + 1):
                try:
                    s = self.manifest(v).get("summary") or {}
                except FileNotFoundError:
                    continue  # snapshot expired: cannot be the publish
                if (
                    s.get("operation") == "fast-forward"
                    and s.get("branch") == name
                    and s.get("branch_head") == head["version"]
                ):
                    shutil.rmtree(os.path.join(self._branches_dir(), name))
                    return cur
            raise CommitConflictError(
                f"branch {name!r} forked at v{fork} but main is at "
                f"v{cur}: a commit landed on main after the fork; "
                "replay the branch work against the new head (or, if "
                "the branch is abandoned, drop_branch it)"
            )
        if head["version"] == fork:
            # empty branch: nothing to publish, just drop the ref
            shutil.rmtree(os.path.join(self._branches_dir(), name))
            return cur
        if _has_delta([fe for fs in head["buckets"].values() for fe in fs]):
            if spark is None:
                raise ValueError(
                    f"branch {name!r} holds merge-on-read delta files; "
                    "pass spark= so fast_forward can compact them (or "
                    "run branch.compact(spark) first) — publishing raw "
                    "branch delta seqs would corrupt main's LWW order"
                )
            br.compact(spark)
            head = br.manifest()
        new = dict(head)
        new["version"] = cur + 1
        new["parent"] = cur
        new["properties"] = {**head["properties"], **(properties or {})}
        new["summary"] = {
            "operation": "fast-forward",
            "branch": name,
            "branch_head": head["version"],
            "branch_commits": head["version"] - fork,
            "ts_ms": int(time.time() * 1000),
        }
        try:
            self._commit(new)
        except FileExistsError as e:
            raise CommitConflictError(
                f"concurrent main commit raced the fast-forward of "
                f"branch {name!r}; replay against the new head"
            ) from e
        shutil.rmtree(os.path.join(self._branches_dir(), name))
        return new["version"]

    def drop_branch(self, name: str) -> int:
        """Discard a branch: remove its snapshot chain and delete the
        data files it alone references (files shared with main, other
        branches, or pending stages are untouched). Returns files
        removed."""
        br = self.load_branch(name)
        refs = br._committed_refs() | br._staged_refs()
        shutil.rmtree(os.path.join(self._branches_dir(), name))
        keep = (
            self._committed_refs() | self._staged_refs() | self._branch_refs()
        )
        removed = 0
        for rel in refs - keep:
            try:
                os.remove(os.path.join(self.path, rel))
                removed += 1
            except FileNotFoundError:
                pass
        return removed

    # ------------------------------------------------------------- utilities

    def history(self, spark: SparkSession) -> DataFrame:
        """Snapshot history as a DataFrame (Iceberg ``table.history``
        metadata-table analogue): one row per retained version with its
        operation, commit timestamp, parent, and the replay watermark
        it carried — the audit surface for "which batch produced which
        snapshot". Driver-side manifest reads only; no data touched."""
        rows = []
        for m in snapshots.docs(self.snap_dir):
            s, p = m.get("summary", {}), m.get("properties", {})
            rows.append(
                (
                    m["version"],
                    m.get("parent"),
                    s.get("operation"),
                    s.get("ts_ms"),
                    p.get("offset_file"),
                    int(p["offset_pos"]) if p.get("offset_pos") else None,
                    p.get("batch_seq"),
                    m.get("schema_id"),
                )
            )
        schema = T.StructType(
            [
                T.StructField("version", T.IntegerType()),
                T.StructField("parent", T.IntegerType()),
                T.StructField("operation", T.StringType()),
                T.StructField("ts_ms", T.LongType()),
                T.StructField("offset_file", T.StringType()),
                T.StructField("offset_pos", T.LongType()),
                T.StructField("batch_seq", T.StringType()),
                T.StructField("schema_id", T.IntegerType()),
            ]
        )
        return spark.createDataFrame(rows, schema)

    def files(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Data-file inventory of a snapshot (Iceberg ``table.files``
        analogue): one row per live file with its bucket, schema_id,
        delta flag + commit seq, and on-disk size — what a maintenance
        planner (compaction, rescale, GC audit) reads instead of
        listing directories. Driver-side only."""
        m = self.manifest(version)
        rows = []
        for b_str, files in m["buckets"].items():
            for fe in files:
                full = os.path.join(self.path, fe["path"])
                try:
                    size = os.path.getsize(full)
                except OSError:
                    size = None
                st = fe.get("stats") or {}
                rows.append(
                    (
                        int(b_str),
                        fe["path"],
                        fe["schema_id"],
                        bool(fe.get("delta")),
                        fe.get("seq"),
                        size,
                        fe.get("rows"),
                        {c: str(v[0]) for c, v in st.items()} or None,
                        {c: str(v[1]) for c, v in st.items()} or None,
                    )
                )
        schema = T.StructType(
            [
                T.StructField("bucket", T.IntegerType()),
                T.StructField("path", T.StringType()),
                T.StructField("schema_id", T.IntegerType()),
                T.StructField("is_delta", T.BooleanType()),
                T.StructField("seq", T.IntegerType()),
                T.StructField("size_bytes", T.LongType()),
                # footer record count stamped at write; None on files
                # committed before the stat existed
                T.StructField("record_count", T.LongType()),
                # column min/max bounds stamped at write (Iceberg
                # lower_bounds/upper_bounds analogue), stringified
                T.StructField(
                    "lower_bounds", T.MapType(T.StringType(), T.StringType())
                ),
                T.StructField(
                    "upper_bounds", T.MapType(T.StringType(), T.StringType())
                ),
            ]
        )
        return spark.createDataFrame(rows, schema)

    def validate(self, spark: SparkSession | None = None, deep: bool = False) -> dict:
        """Table fsck (Iceberg verify-procedure analogue). Shallow
        (driver-only, metadata): every referenced file exists on disk,
        every schema_id resolves, delta entries carry a commit seq no
        newer than the snapshot, the bucket-hash stamp matches this
        engine. ``deep=True`` adds two Spark checks a 10^10-row
        deployment runs before trusting a restored/migrated table:
        per-bucket PLACEMENT (every row's ``pmod(hash(key), B)`` equals
        the bucket its file is filed under — a mis-placed row silently
        escapes future merges' anti-join) and resolved-state KEY
        UNIQUENESS (one live row per key). Returns
        ``{"ok": bool, "issues": [...]}`` — never raises."""
        m = self.manifest()
        issues: list[str] = []
        for b_str, files in m["buckets"].items():
            for fe in files:
                full = os.path.join(self.path, fe["path"])
                if not os.path.exists(full):
                    issues.append(f"missing file: {fe['path']}")
                elif fe.get("rows") is not None or fe.get("stats"):
                    # manifest stats vs the actual footer: a mismatch
                    # means the file was replaced/truncated after commit
                    # (still metadata-only — one footer read per file).
                    # Stale record counts corrupt count(*) folding; stale
                    # min/max bounds are worse — a stamped bound narrower
                    # than the data silently prunes live rows on reads.
                    footer_ok = True
                    if fe.get("rows") is not None:
                        try:
                            actual = _footer_rows(full)
                        except Exception as e:  # unreadable footer
                            actual = None
                            footer_ok = False
                            issues.append(
                                f"unreadable footer: {fe['path']} ({e})"
                            )
                        if actual is not None and actual != fe["rows"]:
                            issues.append(
                                f"record_count drift: {fe['path']} manifest="
                                f"{fe['rows']} footer={actual}"
                            )
                    if fe.get("stats") and footer_ok:
                        # stamped bounds were read from this footer at
                        # commit time by the same code path, so a faithful
                        # file reproduces them byte-for-byte
                        try:
                            now = _footer_stats(
                                full, list(fe["stats"].keys())
                            ) or {}
                        except Exception as e:
                            now = None
                            issues.append(
                                f"unreadable footer stats: {fe['path']} ({e})"
                            )
                        if now is not None:
                            for c, b in fe["stats"].items():
                                if now.get(c) != b:
                                    issues.append(
                                        f"stats drift [{c}]: {fe['path']} "
                                        f"manifest={b} footer={now.get(c)}"
                                    )
                if str(fe["schema_id"]) not in m["schemas"]:
                    issues.append(
                        f"unresolvable schema_id {fe['schema_id']}: {fe['path']}"
                    )
                if fe.get("delta") and not (
                    0 < fe.get("seq", 0) <= m["version"]
                ):
                    issues.append(
                        f"delta entry with bad seq {fe.get('seq')}: {fe['path']}"
                    )
        if m.get("bucket_hash") != _BUCKET_HASH_ID:
            issues.append(f"bucket hash mismatch: {m.get('bucket_hash')!r}")
        if deep and not issues and spark is not None:
            nb = m["n_buckets"]
            misplaced = 0
            for b_str, files in m["buckets"].items():
                if not files:
                    continue
                df = self._read_aligned(
                    spark,
                    [fe for fe in files if not fe.get("delta")],
                    m["schemas"],
                    self._schema_of(m),
                    renames=m.get("renames"),
                )
                n = df.filter(
                    _bucket_expr(m["bucket_by"], nb) != int(b_str)
                ).count()
                if n:
                    misplaced += n
                    issues.append(f"bucket {b_str}: {n} misplaced rows")
            key = m["key_cols"]
            dups = (
                self._read_state(spark, m)
                .groupBy(*key)
                .count()
                .filter(F.col("count") > 1)
                .count()
            )
            if dups:
                issues.append(f"{dups} duplicate keys in resolved state")
            # bloom integrity: a stamped bitmap must CONTAIN every value
            # actually present in its file (the no-false-negative
            # invariant read_where_in's skipping relies on — a drifted
            # bitmap silently drops live rows from point reads). One
            # Spark job per bloom-keyed column name: re-derive each
            # file's required positions with the same engine hash and
            # check driver-side containment against the stamped bits.
            bloom_groups: dict[str, list] = {}
            for fs in m["buckets"].values():
                for fe in fs:
                    for c in fe.get("bloom") or {}:
                        bloom_groups.setdefault(c, []).append(fe)
            for c, fes in bloom_groups.items():
                ftype = None
                for sch_json in m["schemas"].values():
                    for f in T.StructType.fromJson(sch_json).fields:
                        if f.name == c:
                            ftype = f.dataType
                if ftype is None:
                    issues.append(f"bloom column {c!r} in no schema")
                    continue
                paths = [os.path.join(self.path, fe["path"]) for fe in fes]
                rows = (
                    spark.read.schema(
                        T.StructType([T.StructField(c, ftype)])
                    )
                    .parquet(*paths)
                    .select(
                        F.input_file_name().alias("f"),
                        F.explode(
                            F.array(*_bloom_position_exprs(F.col(c)))
                        ).alias("p"),
                    )
                    .groupBy("f")
                    .agg(F.collect_set("p").alias("ps"))
                    .collect()
                )
                by_rel = {fe["path"].split("/", 1)[1]: fe for fe in fes}
                for r in rows:
                    fe = by_rel.get(r["f"].rsplit("/data/", 1)[-1])
                    if fe is not None and not _bloom_contains(
                        fe["bloom"][c], r["ps"]
                    ):
                        issues.append(
                            f"bloom bitmap drift [{c}]: {fe['path']} "
                            "misses positions of present values"
                        )
        return {"ok": not issues, "issues": issues}

    def set_properties(self, properties: dict[str, str]) -> int:
        m = self.manifest()
        new = dict(m)
        new["version"] = m["version"] + 1
        new["parent"] = m["version"]
        new["properties"] = {**m["properties"], **properties}
        new["summary"] = {"operation": "set-properties", "ts_ms": int(time.time() * 1000)}
        return self._commit(new)

    def drop(self):
        shutil.rmtree(self.path, ignore_errors=True)

    def live_files(self, version: int | None = None) -> list[str]:
        m = self.manifest(version)
        return [fe["path"] for files in m["buckets"].values() for fe in files]

    def expire_snapshots(self, keep_last: int = 10) -> int:
        """Iceberg-style snapshot expiry: drop all but the newest
        ``keep_last`` snapshot manifests, then delete data files no
        longer referenced by any surviving snapshot. Time travel is
        bounded to the retained window; the current snapshot (and its
        replay watermark properties) is always kept. Returns the number
        of expired snapshot versions."""
        # tagged snapshots survive expiry
        dropped = snapshots.expire(
            self.snap_dir, keep_last, protected=set(self.tags().values())
        )
        if not dropped:
            return 0
        # pending WAP stages protect their refs too (a staged COW
        # manifest carries its parent's untouched buckets forward),
        # and so do live branches — a branch forked at an expired
        # version still references the fork's files
        live: set[str] = (
            self._committed_refs() | self._staged_refs() | self._branch_refs()
        )
        for rel in _refs(dropped) - live:
            try:
                os.remove(os.path.join(self.path, rel))
            except FileNotFoundError:
                pass
        return len(dropped)

    def gc_orphans(self, min_age_s: float = 600.0) -> int:
        """Delete data files not referenced by any snapshot — crash
        debris cleanup. ``min_age_s`` guards the race with a concurrent
        writer whose staged files exist but whose commit has not landed
        yet (an in-flight write is always younger than the guard; real
        debris is not). Files referenced by pending WAP stages or by
        any live branch are never orphans."""
        live: set[str] = (
            self._committed_refs() | self._staged_refs() | self._branch_refs()
        )
        removed = 0
        now = time.time()
        for root, _dirs, files in os.walk(self.data_dir):
            for fn in files:
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, self.path)
                if (
                    fn.endswith(".parquet")
                    and rel not in live
                    and now - os.path.getmtime(full) >= min_age_s
                ):
                    os.remove(full)
                    removed += 1
        # crash-stranded atomic-write temps: snapshots, WAP stages and
        # tags all write through snapshots.write_file_atomic
        branch_dirs = [
            os.path.join(self._branches_dir(), n) for n in self.branch_names()
        ]
        for d in (
            self.snap_dir,
            os.path.join(self.snap_dir, "staged"),
            os.path.join(self.path, "tags"),
            *branch_dirs,
            *[os.path.join(b, "staged") for b in branch_dirs],
        ):
            removed += snapshots.reap_temps(d, min_age_s)
        return removed


class _BranchTable(LakeTable):
    """A branch view of a :class:`LakeTable`: the full write/read
    surface over an independent snapshot chain rooted at
    ``snapshots/branches/<name>/``, sharing the parent table's data
    directory (branch commits write new files there; unchanged buckets
    are carried by reference exactly like main commits). Obtained via
    :meth:`LakeTable.branch` / :meth:`LakeTable.load_branch`.

    Table-level maintenance and refs (snapshot expiry, orphan GC,
    tags, drop) are MAIN-chain concerns — running them against a
    branch view would treat every main-only file as garbage — so they
    raise here; use the parent handle, whose keep-set includes all
    live branches."""

    def __init__(self, root: LakeTable, name: str):
        super().__init__(root.path)
        self.branch_name = name
        self.snap_dir = os.path.join(root.path, "snapshots", "branches", name)

    def fork_version(self) -> int:
        """The main version this branch forked from — the seed copy is
        the chain's minimum version by construction."""
        return snapshots.versions(self.snap_dir)[0]

    def _main_only(self, op: str):
        raise RuntimeError(
            f"{op} is a main-table operation; run it on the parent "
            f"LakeTable handle (branch {self.branch_name!r} shares its "
            "data directory, and main's keep-set protects live branches)"
        )

    def expire_snapshots(self, keep_last: int = 10) -> int:
        self._main_only("expire_snapshots")

    def gc_orphans(self, min_age_s: float = 600.0) -> int:
        self._main_only("gc_orphans")

    def tag(self, name: str, version: int | None = None) -> int:
        self._main_only("tag")

    def delete_tag(self, name: str) -> None:
        self._main_only("delete_tag")

    def read_tag(self, spark: SparkSession, name: str) -> DataFrame:
        self._main_only("read_tag")

    def drop(self):
        self._main_only("drop (use drop_branch)")

    def branch(self, name: str, from_version: int | None = None):
        self._main_only("branch-of-branch")
