"""spark-submit entry point for the CDC apply job.

Cluster usage (the north_rule's deployment shape):

    zip -r mts.zip mysql_tracker_spark
    spark-submit --master <cluster> --py-files mts.zip \
        --conf spark.sql.shuffle.partitions=<total-cores> \
        scripts/submit_apply.py \
        --input-dir /data/binlog_batches --table-path /lake/transcripts \
        --source-format wire --n-buckets 1024

Local sandbox equivalent:

    spark-submit --master local[32] scripts/submit_apply.py \
        --input-dir /tmp/in --table-path /tmp/tbl --source-format typed

Options: every :class:`~mysql_tracker_spark.config.JobConfig` field is
a flag ``--<field-name-with-dashes>``, documented and checked in
``mysql_tracker_spark/config.py`` only. Flags are applied over the
``--config`` JSON (or the defaults); list fields take JSON
(``--bloom-cols '["text"]'``, ``--expectations '[{"kind": "not_null",
"name": "nn", "col": "text", "blocking": true}]'``). The remaining
flags are actions: maintenance run before the apply (``--compact``,
``--rollback-to``, ``--fast-forward``, ...), the batch bound and the
streaming switch.

Prints one JSON line per applied batch and a final summary line.
"""

from __future__ import annotations

import argparse
import dataclasses
import datetime
import json
import sys
import types
import typing

from mysql_tracker_spark.config import JobConfig


def json_list(s: str) -> list:
    v = json.loads(s)
    if not isinstance(v, list):
        raise ValueError(f"not a JSON list: {s!r}")
    return v


def json_list_or_str(s: str):
    """A JSON list when ``s`` is one, else the raw string."""
    try:
        v = json.loads(s)
    except ValueError:
        return s
    return v if isinstance(v, list) else s


def _converter(hint):
    """The flag value converter for a JobConfig field's annotation."""
    union = typing.get_origin(hint) in (typing.Union, types.UnionType)
    kinds = {typing.get_origin(a) or a for a in (typing.get_args(hint) if union else (hint,))}
    kinds.discard(type(None))
    if kinds == {int}:
        return int
    if kinds == {list}:
        return json_list
    if list in kinds:
        return json_list_or_str
    return str


def build_parser() -> argparse.ArgumentParser:
    # no prefix abbreviations: a field added later must not turn a
    # working abbreviated flag ambiguous
    ap = argparse.ArgumentParser(
        description="CDC binlog replay -> lakestore MERGE apply", allow_abbrev=False
    )
    opts = ap.add_argument_group("JobConfig fields (see mysql_tracker_spark/config.py)")
    hints = typing.get_type_hints(JobConfig)
    defaults = JobConfig()
    for f in dataclasses.fields(JobConfig):
        opts.add_argument(
            "--" + f.name.replace("_", "-"),
            type=_converter(hints[f.name]),
            # unset flags stay out of the namespace, so they never
            # clobber a --config field
            default=argparse.SUPPRESS,
            help=f"JobConfig.{f.name} (default {getattr(defaults, f.name)!r})",
        )

    ap.add_argument(
        "--config", default=None,
        help="JobConfig JSON path; the field flags override its fields",
    )
    ap.add_argument("--max-batches", type=int, default=None)
    ap.add_argument("--streaming", action="store_true", help="tail via Structured Streaming")
    ap.add_argument("--checkpoint", default=None, help="streaming checkpoint dir")
    ap.add_argument(
        "--fast-forward", default=None, metavar="NAME",
        help="before applying, publish branch NAME's head onto main as "
        "one squashed commit (fails if main moved past the fork)",
    )
    ap.add_argument(
        "--drop-branch", default=None, metavar="NAME",
        help="before applying, discard branch NAME and reap the files "
        "only it references",
    )
    ap.add_argument(
        "--rollback-to", type=int, default=None, metavar="VERSION",
        help="before applying, roll the table back to this snapshot "
        "(data + replay watermark revert together; the run then "
        "replays the rolled-back range through the fenced MERGE)",
    )
    ap.add_argument(
        "--fsck", choices=["shallow", "deep"], default=None,
        help="before applying, validate table integrity (shallow = "
        "metadata: files exist, schema ids resolve, delta seqs sane; "
        "deep = + per-bucket placement and resolved-key uniqueness "
        "Spark checks) and exit non-zero on issues",
    )
    ap.add_argument(
        "--compact", action="store_true",
        help="before applying, fold any merge-on-read delta files back "
        "into base files (all buckets holding deltas), clustered per "
        "--compact-sort-by / --compact-files-per-bucket; content and "
        "watermark unchanged",
    )
    ap.add_argument(
        "--rescale-buckets", type=int, default=None, metavar="N",
        help="before applying, re-hash the table into N buckets "
        "(bucket-count evolution for table growth; one full-table "
        "rewrite committed as a snapshot, content unchanged)",
    )
    ap.add_argument(
        "--split-buckets", type=int, default=None, metavar="K",
        help="before applying, multiply the bucket count by integer K "
        "in a METADATA-ONLY commit (progressive bucket evolution: "
        "child buckets read parent files through residual predicates; "
        "migration completes via later merges / --compact, content "
        "unchanged) — the O(1) alternative to --rescale-buckets",
    )
    ap.add_argument(
        "--delete-where", nargs=3, default=None, action="append",
        metavar=("COL", "LO", "HI"),
        help="before applying, delete every live row with LO <= COL <= "
        "HI (empty string = open bound; repeatable, conjunctive across "
        "repeats) — retention/GDPR maintenance: stats-pruned bucket "
        "rewrite, replay watermark untouched. COL values parse as "
        "int/float/timestamp/string in that order",
    )
    ap.add_argument(
        "--gc-orphans", type=float, default=None, metavar="MIN_AGE_S",
        help="before applying, delete unreferenced data files older "
        "than MIN_AGE_S seconds (crash-debris cleanup; staged WAP "
        "files and in-flight writes are never touched)",
    )
    ap.add_argument(
        "--bootstrap-snapshot", nargs=3, default=None,
        metavar=("PARQUET_DIR", "FILE", "POS"),
        help="before applying, seed the (empty) table from a full-table "
        "snapshot parquet dir and fence the CDC stream at binlog "
        "position FILE:POS (Debezium initial-snapshot analogue; the "
        "subsequent apply catches up from there). A fuzzy snapshot — "
        "read while writes continued — is safe as long as FILE:POS is "
        "at-or-before the snapshot read start",
    )
    ap.add_argument(
        "--changes-from", type=int, default=None, metavar="VERSION",
        help="after the apply, print the row-level changelog "
        "(insert/update/delete) from this snapshot version to HEAD "
        "as JSON lines (downstream verification consumer)",
    )
    return ap


def parse(argv=None) -> tuple[argparse.Namespace, JobConfig]:
    """The action arguments and the job's ONE JobConfig: the --config
    file (or the defaults) with each field flag passed replaced in —
    ``JobConfig.__post_init__`` rejects a bad value."""
    ap = build_parser()
    args = ap.parse_args(argv)
    cfg = JobConfig.load(args.config) if args.config else JobConfig()
    cfg = dataclasses.replace(
        cfg,
        **{f.name: getattr(args, f.name) for f in dataclasses.fields(JobConfig) if f.name in args},
    )
    if not (cfg.input_dir and cfg.table_path):
        ap.error("--input-dir and --table-path (or the --config fields) are required")
    return args, cfg


def _log(**kv) -> None:
    print(json.dumps(kv), file=sys.stderr)


def _parse_bound(s):
    if s == "":
        return None
    for cast in (int, float):
        try:
            return cast(s)
        except ValueError:
            pass
    try:
        return datetime.datetime.fromisoformat(s)
    except ValueError:
        return s


def main(argv=None) -> None:
    args, cfg = parse(argv)

    from pyspark.sql import SparkSession

    from mysql_tracker_spark.lakestore import LakeTable
    from mysql_tracker_spark.runner import CdcApplyJob
    from mysql_tracker_spark.session import engine_sql_conf

    spark = SparkSession.builder.appName("mysql-tracker-spark-apply").getOrCreate()
    for k, v in engine_sql_conf(spark.sparkContext.defaultParallelism).items():
        spark.conf.set(k, v)

    if args.rollback_to is not None:
        v = LakeTable.load(cfg.table_path).rollback(args.rollback_to)
        _log(rollback_to=args.rollback_to, new_version=v)

    if args.fast_forward is not None:
        v = LakeTable.load(cfg.table_path).fast_forward(args.fast_forward, spark=spark)
        _log(fast_forward=args.fast_forward, new_version=v)

    if args.drop_branch is not None:
        n = LakeTable.load(cfg.table_path).drop_branch(args.drop_branch)
        _log(drop_branch=args.drop_branch, files_removed=n)

    if args.fsck:
        r = LakeTable.load(cfg.table_path).validate(spark, deep=args.fsck == "deep")
        _log(fsck=r)
        if not r["ok"]:
            sys.exit(3)

    if args.compact:
        v, done = LakeTable.load(cfg.table_path).compact(
            spark,
            sort_by=cfg.compact_sort_by,
            files_per_bucket=cfg.compact_files_per_bucket,
        )
        _log(compact_version=v, compacted_buckets=done)

    if args.rescale_buckets is not None:
        v = LakeTable.load(cfg.table_path).rescale_buckets(spark, args.rescale_buckets)
        _log(rescale_buckets=args.rescale_buckets, new_version=v)

    if args.split_buckets is not None:
        t = LakeTable.load(cfg.table_path)
        v = t.split_buckets(args.split_buckets)
        _log(
            split_buckets_factor=args.split_buckets,
            n_buckets=t.manifest()["n_buckets"],
            new_version=v,
            shared_buckets=len(t.shared_buckets()),
        )

    if args.gc_orphans is not None:
        n = LakeTable.load(cfg.table_path).gc_orphans(min_age_s=args.gc_orphans)
        _log(gc_orphans_removed=n)

    if args.delete_where:
        # conjunctive across repeats INCLUDING repeats on one column:
        # intersect the ranges (tightest lo, tightest hi) instead of
        # silently keeping only the last flag — this drives a
        # DESTRUCTIVE delete, so dropped bounds are data loss
        preds: dict = {}
        for col, lo, hi in args.delete_where:
            plo, phi = _parse_bound(lo), _parse_bound(hi)
            if col in preds:
                olo, ohi = preds[col]
                plo = olo if plo is None else plo if olo is None else max(olo, plo)
                phi = ohi if phi is None else phi if ohi is None else min(ohi, phi)
            preds[col] = (plo, phi)
        v, n = LakeTable.load(cfg.table_path).delete_where(spark, preds)
        _log(delete_where_version=v, rows_deleted=n)

    # the batch and the streaming job are built from the one config
    # the same way
    if args.streaming:
        if cfg.branch is not None:
            print("branch is batch-mode only", file=sys.stderr)
            sys.exit(2)
        from mysql_tracker_spark.streaming import CdcStreamJob

        stream = CdcStreamJob(
            spark,
            cfg.input_dir,
            cfg.table_path,
            checkpoint_dir=args.checkpoint or cfg.table_path + "_ckpt",
            source_format=cfg.source_format,
            config=cfg,
        )
        stats = stream.run_available()
        job = stream.job
    else:
        job = CdcApplyJob.from_config(spark, cfg)
        if args.bootstrap_snapshot is not None:
            snap_dir, bfile, bpos = args.bootstrap_snapshot
            v = job.bootstrap_snapshot(spark.read.parquet(snap_dir), bfile, int(bpos))
            _log(bootstrap_version=v, fence=[bfile, int(bpos)])
        stats = job.run(max_batches=args.max_batches)
    if job.position_probe is not None:
        _log(position_probe=job.position_probe)

    total = 0
    for s in stats:
        print(json.dumps(s.__dict__, default=str))
        total += s.rows_in
    print(json.dumps({"batches": len(stats), "events": total}), file=sys.stderr)

    if args.changes_from is not None and not args.streaming:
        t = LakeTable.load(cfg.table_path)
        for r in t.read_changes(spark, args.changes_from).toJSON().toLocalIterator():
            print(r)
    spark.stop()


if __name__ == "__main__":
    main()
