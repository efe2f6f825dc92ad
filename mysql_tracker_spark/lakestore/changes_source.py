"""Streaming CDC-out: the lakestore changelog as a first-class
Structured Streaming SOURCE (Spark 4 Python Data Source API).

The reference's downstream verification consumer polls Kafka
(SURVEY.md §2.1 S6); the lakestore already answers it with the batch
:meth:`LakeTable.read_changes`. This module closes the loop for
streaming consumers:

    spark.dataSource.register(LakeChangesDataSource)
    df = (spark.readStream.format("lakestore_changes")
          .option("path", table_path).load())

* **Offsets are snapshot versions** — the table's own commit log is
  the stream's offset axis, so Spark's checkpoint + the engine's
  deterministic version-range diff give end-to-end exactly-once: a
  replayed micro-batch re-reads the SAME version range and yields the
  identical rows.
* **One input partition per changed bucket** (`partitions()`): the
  COW/MOR invariant that an untouched bucket carries identical file
  entries forward means only changed buckets are listed, and each
  executor task diffs exactly one bucket — the same working-set bound
  the batch changelog has. Each partition EMBEDS the file-entry lists
  it needs, so executors never re-open or re-parse the (large at
  scale) manifests.
* **Executor-side diff without a SparkSession**: `read()` runs on
  executors where no SparkSession exists, so the per-bucket state
  resolution and the old-vs-new key diff are implemented over
  pyarrow/pandas, mirroring the Spark-side :meth:`LakeTable._read_state`
  semantics file-entry by file-entry:
  - schema alignment through the RENAME CHAIN + identity-continuity
    check (`_source_map` — the same helper the Spark read path uses),
  - post-split ``residual`` predicates recomputed per row with the
    pure-Python twin of Spark's Murmur3 ``hash()``
    (:mod:`.spark_hash`, property-tested against ``F.hash``),
  - MOR LWW-by-seq + tombstone drop.
  Equivalence with the Spark-side :meth:`LakeTable.read_changes` is
  property-tested (tests/test_changes_source.py) across random
  merge/MOR/compact/split/rescale/rename sequences — any divergence
  between the two implementations breaks the suite.
* **Bucket-layout changes in the offset range** (split_buckets /
  rescale_buckets): buckets cannot be diffed id-by-id across layouts —
  a to-layout bucket's old rows lived in a DIFFERENT from-layout
  bucket. Each partition therefore carries the from-layout bucket(s)
  that can own its rows (``b % n_from`` for a k·N split/rescale-up,
  ``{b + i·n_to}`` for a shrink, all of them otherwise) and re-filters
  the old side to ``pmod(hash(key), n_to) == b``. A metadata-only
  split thus yields zero change rows, exactly like the batch
  changelog.

Schema note: the output schema (op + the table's columns) is fixed
when the stream starts, like any Spark source; files written under
older schema_ids are aligned (missing columns null, renamed columns
mapped, widened cast via pandas). After any DDL (ADD/RENAME/DROP
COLUMN), restart the stream to pick up the new schema — alignment
assumes the stream schema is the table's CURRENT schema.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from .spark_hash import pmod_bucket_array
from .table import LakeTable, _current_name, _source_map

_TOMBSTONE = "__delete"


def _bucket_state(path: str, entries: list[dict], meta: dict):
    """One live row per key over a list of file entries, as pandas —
    the executor-side twin of LakeTable._read_state restricted to one
    bucket's entries: align every file to the target schema through
    the rename chain, apply post-split residual predicates, stamp MOR
    deltas with their commit seq, keep the max-seq row per key, drop
    tombstones."""
    import pandas as pd
    import pyarrow.parquet as pq

    target = T.StructType.fromJson(
        {"type": "struct", "fields": meta["target_fields"]}
    )
    names = [f.name for f in target.fields]
    types = {f.name: f.dataType.typeName() for f in target.fields}
    renames = meta["renames"]
    parts = []
    for fe in entries:
        pdf = pq.read_table(os.path.join(path, fe["path"])).to_pandas()
        sid = fe["schema_id"]
        smap = _source_map(
            target, sid, meta["cur_sid"], meta["schemas"], renames
        )
        part = pd.DataFrame(index=pdf.index)
        for n in names:
            src = smap[n]
            if src is not None and src in pdf.columns:
                part[n] = pdf[src]
            else:
                part[n] = None
        is_delta = bool(fe.get("delta"))
        part["__del"] = (
            pdf[_TOMBSTONE].fillna(False).astype(bool)
            if is_delta and _TOMBSTONE in pdf.columns
            else False
        )
        part["__seq"] = fe.get("seq", 0) if is_delta else 0
        r = fe.get("residual")
        if r is not None and len(part):
            # shared post-split entry: the physical file holds a
            # superset of this bucket's rows — keep only rows whose
            # CURRENT placement under the residual's layout is the
            # child id (same predicate as table._residual_pred);
            # vectorized numpy murmur3, not a per-row map
            col = _current_name(r["col"], r["sid"], renames)
            keep = (
                pmod_bucket_array(part[col], types[col], r["n"]) == r["id"]
            )
            part = part[keep]
        parts.append(part)
    if not parts:
        return pd.DataFrame(columns=names + ["__del", "__seq"])
    allr = pd.concat(parts, ignore_index=True)
    key_cols = meta["key_cols"]
    # max-seq row per key wins (stable sort keeps within-seq order;
    # keys are unique within one seq level by the merge contract)
    allr = allr.sort_values("__seq", kind="stable").groupby(
        key_cols, as_index=False, dropna=False
    ).tail(1)
    return allr[~allr["__del"]].drop(columns=["__del", "__seq"])


class _BucketDiffPart(InputPartition):
    """Self-contained diff task for ONE to-layout bucket: carries the
    file-entry lists of both sides (no executor manifest reads) plus
    the alignment metadata. ``old_filter_bucket`` is set iff the
    bucket layout changed inside the offset range — then the old side
    (read from the from-layout bucket(s) that can own this bucket's
    rows) is re-filtered to ``pmod(hash(bucket_by), n_to) == b``."""

    def __init__(
        self,
        path: str,
        bucket: int,
        entries_from: list[dict],
        entries_to: list[dict],
        meta: dict,
        old_filter_bucket: int | None = None,
    ):
        self.path = path
        self.bucket = bucket
        self.entries_from = entries_from
        self.entries_to = entries_to
        self.meta = meta
        self.old_filter_bucket = old_filter_bucket


def _from_bucket_ids(b: int, n_from: int, n_to: int) -> list[int]:
    """From-layout bucket ids that can hold rows of to-layout bucket
    ``b`` (placement = pmod(hash, n)): a k·N grow maps each child to
    one parent; a shrink to N/k folds k parents into one child;
    arbitrary rescales admit no congruence shortcut — scan them all."""
    if n_to % n_from == 0:
        return [b % n_from]
    if n_from % n_to == 0:
        return [b + i * n_to for i in range(n_from // n_to)]
    return list(range(n_from))


class LakeChangesStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema_json: str):
        self.path = options["path"]
        self.start_version = int(options.get("fromversion", 0)) or None
        self._schema_json = schema_json

    # ---- offsets -------------------------------------------------------
    def initialOffset(self) -> dict:
        v = (
            self.start_version
            if self.start_version is not None
            else LakeTable(self.path).current_version()
        )
        return {"version": v}

    def latestOffset(self) -> dict:
        return {"version": LakeTable(self.path).current_version()}

    def partitions(self, start: dict, end: dict):
        v0, v1 = start["version"], end["version"]
        if v1 <= v0:
            return []
        t = LakeTable(self.path)
        mf, mt = t.manifest(v0), t.manifest(v1)
        sch = json.loads(self._schema_json)
        target_fields = [f for f in sch["fields"] if f["name"] != "op"]
        bucket_by = mt["bucket_by"]
        n_from, n_to = mf["n_buckets"], mt["n_buckets"]
        meta = {
            "target_fields": target_fields,
            "schemas": {**mf["schemas"], **mt["schemas"]},
            "renames": mt.get("renames"),
            "cur_sid": mt["schema_id"],
            "key_cols": mt["key_cols"],
            "bucket_by": bucket_by,
            # None when the stream's frozen schema predates a rename of
            # the bucket column — only the cross-layout diff needs it,
            # and that path raises a restart-the-stream error instead
            # of an opaque StopIteration
            "bucket_by_type": next(
                (f["type"] for f in target_fields if f["name"] == bucket_by),
                None,
            ),
            "n_to": n_to,
        }
        parts = []
        if n_from == n_to:
            # same layout: diff changed buckets id-by-id (untouched
            # buckets carry identical entry lists forward)
            for b in sorted(set(mf["buckets"]) | set(mt["buckets"]), key=int):
                ef = mf["buckets"].get(b, [])
                et = mt["buckets"].get(b, [])
                if ef != et:
                    parts.append(
                        _BucketDiffPart(self.path, int(b), ef, et, meta)
                    )
            return parts
        # layout changed inside the range: every to-bucket's old rows
        # must be re-derived from the from-layout bucket(s) that held
        # them, filtered to this bucket under the TO layout
        for b in range(n_to):
            et = mt["buckets"].get(str(b), [])
            ef = [
                fe
                for fb in _from_bucket_ids(b, n_from, n_to)
                for fe in mf["buckets"].get(str(fb), [])
            ]
            if ef or et:
                parts.append(
                    _BucketDiffPart(
                        self.path, b, ef, et, meta, old_filter_bucket=b
                    )
                )
        return parts

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint; nothing to ack

    # ---- executor-side read -------------------------------------------
    def read(self, partition: _BucketDiffPart):
        """Vectorized per-bucket diff — outer merge on the key plus
        column-wise NaN-aware compare; emits ONE Arrow RecordBatch per
        bucket.  No per-row Python runs on the data path: merge,
        compare, and Arrow conversion are all C-level over whole
        columns (the earlier iterrows/dict implementation was the
        engine's only row-at-a-time executor loop)."""
        import numpy as np
        import pandas as pd

        meta = partition.meta
        names = [f["name"] for f in meta["target_fields"]]
        key = meta["key_cols"]
        non_key = [n for n in names if n not in key]
        old = _bucket_state(partition.path, partition.entries_from, meta)
        new = _bucket_state(partition.path, partition.entries_to, meta)
        if partition.old_filter_bucket is not None and len(old):
            # cross-layout diff: keep only the old rows that live in
            # THIS bucket under the to-layout (the new side already
            # does, by bucket ownership / residual predicates)
            bcol = meta["bucket_by"]
            btype = meta["bucket_by_type"]
            if btype is None or bcol not in old.columns:
                raise RuntimeError(
                    "lakestore_changes: the bucket column "
                    f"{bcol!r} is not in this stream's (frozen) schema "
                    "— the column was renamed after the stream started "
                    "and a bucket-layout change needs it; restart the "
                    "stream to pick up the current schema"
                )
            n_to = meta["n_to"]
            keep = (
                pmod_bucket_array(old[bcol], btype, n_to)
                == partition.old_filter_bucket
            )
            old = old[keep]

        # keys are unique within each side (one live row per key), so
        # the outer merge is 1:1; empty sides short-circuit to avoid
        # dtype-less empty-frame merges
        if not len(old) and not len(new):
            return
        if not len(new):
            out = old[names].copy()
            out.insert(0, "op", "delete")
        elif not len(old):
            out = new[names].copy()
            out.insert(0, "op", "insert")
        else:
            # POSITIONAL merge: join only (key cols + row positions) and
            # gather the data rows from the ORIGINAL frames afterwards.
            # Merging the data columns themselves would let the outer
            # merge promote int64 to float64 (NaN fill on one-sided
            # rows), which silently corrupts values above 2^53 and makes
            # float-colliding updates compare equal — the positional
            # gather keeps every column's exact dtype end to end.
            old = old.reset_index(drop=True)
            new = new.reset_index(drop=True)
            lk = old[key].copy()
            lk["__ia"] = np.arange(len(old), dtype=np.int64)
            rk = new[key].copy()
            rk["__ib"] = np.arange(len(new), dtype=np.int64)
            merged = lk.merge(
                rk, on=key, how="outer", indicator=True, sort=False
            )
            side = merged["_merge"].to_numpy()
            ins_ib = (
                merged.loc[side == "right_only", "__ib"]
                .to_numpy()
                .astype(np.int64)
            )
            del_ia = (
                merged.loc[side == "left_only", "__ia"]
                .to_numpy()
                .astype(np.int64)
            )
            both = merged[side == "both"]
            ia = both["__ia"].to_numpy().astype(np.int64)
            ib = both["__ib"].to_numpy().astype(np.int64)
            if non_key and len(both):
                changed = np.zeros(len(both), dtype=bool)
                for c in non_key:
                    a = old[c].iloc[ia].reset_index(drop=True)
                    b = new[c].iloc[ib].reset_index(drop=True)
                    # NaN-aware: both-missing counts as equal
                    eq = (a == b) | (a.isna() & b.isna())
                    changed |= ~eq.to_numpy()
                upd_ib = ib[changed]
            else:
                upd_ib = np.empty(0, dtype=np.int64)

            def take(frame, idx, op):
                df = frame[names].iloc[idx].reset_index(drop=True)
                df.insert(0, "op", op)
                return df

            sides = [
                take(frame, idx, op)
                for frame, idx, op in (
                    (new, ins_ib, "insert"),
                    (old, del_ia, "delete"),
                    (new, upd_ib, "update"),
                )
                if len(idx)  # empty/all-NA frames poison concat dtypes
            ]
            if not sides:
                return
            out = (
                sides[0]
                if len(sides) == 1
                else pd.concat(sides, ignore_index=True)
            )
        if not len(out):
            return
        # chunked emission: one monolithic batch for a multi-million-row
        # bucket diff would spike executor memory at the Arrow boundary;
        # 64k rows/batch matches the engine's decode batch sizing
        for lo in range(0, len(out), 65536):
            yield _to_record_batch(
                out.iloc[lo : lo + 65536], meta["target_fields"]
            )


def _to_record_batch(pdf, target_fields: list[dict]):
    """pandas → one Arrow RecordBatch matching the declared stream
    schema (op + table columns); NaN/NaT/None become Arrow nulls.
    Column dtypes arrive UNPROMOTED (the diff gathers rows positionally
    from the source frames), so int64 columns convert exactly."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    full = T.StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "op",
                    "type": "string",
                    "nullable": True,
                    "metadata": {},
                }
            ]
            + list(target_fields),
        }
    )
    schema = to_arrow_schema(full)
    arrays = [
        pa.array(pdf[f.name], type=f.type, from_pandas=True)
        for f in schema
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


class LakeChangesDataSource(DataSource):
    """``spark.readStream.format("lakestore_changes")`` — register with
    ``spark.dataSource.register(LakeChangesDataSource)`` first."""

    @classmethod
    def name(cls) -> str:
        return "lakestore_changes"

    def schema(self) -> str:
        m = LakeTable(self.options["path"]).manifest()
        tbl = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        return T.StructType(
            [T.StructField("op", T.StringType())] + list(tbl.fields)
        )

    def streamReader(self, schema: T.StructType) -> LakeChangesStreamReader:
        return LakeChangesStreamReader(self.options, schema.json())
