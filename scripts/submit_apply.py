"""spark-submit entry point for the CDC apply job.

Cluster usage (the north_rule's deployment shape):

    zip -r mts.zip mysql_tracker_spark
    spark-submit --master <cluster> --py-files mts.zip \
        --conf spark.sql.shuffle.partitions=<total-cores> \
        scripts/submit_apply.py \
        --input /data/binlog_batches --table /lake/transcripts \
        --format wire --buckets 1024

Local sandbox equivalent:

    spark-submit --master local[32] scripts/submit_apply.py \
        --input /tmp/in --table /tmp/tbl --format typed

Prints one JSON line per applied batch and a final summary line.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import sys


def parse_expect(spec: str):
    """Compact --expect spec -> quality.Expect (always blocking: the
    CLI flag exists to gate)."""
    from mysql_tracker_spark import quality as Q

    parts = spec.split(":")
    kind = parts[0]
    if kind == "not_null" and len(parts) == 2:
        return Q.not_null(f"not_null_{parts[1]}", parts[1], blocking=True)
    if kind == "unique" and len(parts) == 2:
        cols = parts[1].split("+")
        return Q.unique(f"unique_{'_'.join(cols)}", cols, blocking=True)
    if kind == "in_set" and len(parts) == 3:
        return Q.in_set(
            f"in_set_{parts[1]}", parts[1], parts[2].split("|"), blocking=True
        )
    if kind == "range" and len(parts) == 4:
        lo = float(parts[2]) if parts[2] != "" else None
        hi = float(parts[3]) if parts[3] != "" else None
        return Q.in_range(f"range_{parts[1]}", parts[1], lo=lo, hi=hi, blocking=True)
    raise SystemExit(f"bad --expect spec: {spec!r}")


def main() -> None:
    ap = argparse.ArgumentParser(description="CDC binlog replay -> lakestore MERGE apply")
    ap.add_argument("--input", required=True, help="directory of micro-batch parquet files")
    ap.add_argument("--table", required=True, help="lakestore table path (created if absent)")
    # default=None so a --config run can tell "flag passed" from "flag
    # defaulted" — argparse defaults must not clobber JobConfig fields
    ap.add_argument("--format", default=None, choices=["typed", "wire", "jsonl"])
    ap.add_argument("--buckets", type=int, default=None)
    ap.add_argument("--files-per-batch", type=int, default=None)
    ap.add_argument("--max-batches", type=int, default=None)
    ap.add_argument(
        "--reset-policy", default=None, choices=["fail", "earliest"],
        help="validate the committed watermark against retained input "
        "before applying (reference errno-1236 recovery, C5/C7)",
    )
    ap.add_argument("--streaming", action="store_true", help="tail via Structured Streaming")
    ap.add_argument("--checkpoint", default=None, help="streaming checkpoint dir")
    ap.add_argument(
        "--config", default=None,
        help="JobConfig JSON path (filters, position override, policies) — "
        "other flags override its fields",
    )
    ap.add_argument(
        "--expire-keep-last", type=int, default=None,
        help="snapshot retention: expire down to the newest N snapshots "
        "after each applied batch",
    )
    ap.add_argument(
        "--on-destructive-ddl", default=None, choices=["raise", "ignore"],
        help="policy for DROP/RENAME of the target table",
    )
    ap.add_argument(
        "--salts", type=int, default=None,
        help="explicit two-phase salted LWW for single-key floods "
        "(see BENCH/BASELINE.md hot-key section); 0 = packed default "
        "with AUTO skew escalation; None-default so --salts 0 can "
        "override a config file's n_salts",
    )
    ap.add_argument(
        "--write-mode", default=None, choices=["cow", "mor"],
        help="sink mode: cow = copy-on-write MERGE (read-optimized), "
        "mor = merge-on-read delta commits with bounded auto-compaction "
        "(write-optimized; per-batch cost tracks the batch, not the "
        "touched buckets — the uniform-key 10^10-event shape)",
    )
    ap.add_argument(
        "--mor-compact-threshold", type=int, default=None, metavar="K",
        help="under --write-mode mor: compact a bucket once it holds K "
        "delta files (read amplification bound; default 8)",
    )
    ap.add_argument(
        "--branch", default=None, metavar="NAME",
        help="apply onto a BRANCH of the target table (created at the "
        "current main head if absent): batches commit to the branch's "
        "own snapshot/watermark chain while main stays untouched; "
        "publish later with --fast-forward NAME or discard with "
        "--drop-branch NAME (batch mode only)",
    )
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
        "--gtid-list", default=None, metavar="STATE",
        help="MariaDB GTID_LIST replication-state fence, e.g. "
        "'0-1-100,1-2-7': drop events whose MariaDB gtid "
        "(domain-server-seqno) is already covered per-domain; sources "
        "without a gtid column are unaffected (position fence rules)",
    )
    ap.add_argument(
        "--gtid-set", default=None, metavar="SET",
        help="MySQL executed-GTID-set fence, e.g. 'uuid:1-100': drop "
        "events of transactions already inside the set. Typed/jsonl "
        "sources fence on the gtid column; the wire source fences via "
        "its GTID_LOG_EVENT control frames (per-transaction anti-join)",
    )
    ap.add_argument(
        "--incident-policy", choices=["fail", "record"], default=None,
        help="what to do when an INCIDENT frame (possibly lost events "
        "on the master) is found past the fence: fail the batch "
        "(default) or record it in stats/lineage and continue",
    )
    ap.add_argument(
        "--quarantine-dir", default=None, metavar="DIR",
        help="dead-letter audit (wire format): persist corrupt frames "
        "(reason + verbatim payload) under DIR instead of only "
        "dropping them",
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
        "into base files (all buckets holding deltas) — standalone "
        "maintenance entry point; content and watermark unchanged",
    )
    ap.add_argument(
        "--compact-sort-by", default=None, metavar="COL[,COL2...]",
        help="range-cluster compaction output on COL (Iceberg "
        "rewrite-with-sort-order analogue): each compacted bucket is "
        "split into ~--compact-files-per-bucket files sorted on COL "
        "with tight stamped min/max bounds, so range reads keep "
        "skipping files after compaction; TWO+ comma-separated columns "
        "switch to Z-ORDER clustering (Delta OPTIMIZE ZORDER BY "
        "analogue — range reads prune on any listed column); applies "
        "to --compact and to merge-on-read auto-compaction",
    )
    ap.add_argument(
        "--compact-files-per-bucket", type=int, default=None, metavar="K",
        help="with --compact-sort-by: target files per bucket "
        "(default 1; the range partitioner balances rows, so skewed "
        "buckets naturally get more files)",
    )
    ap.add_argument(
        "--rescale-buckets", type=int, default=None, metavar="N",
        help="before applying, re-hash the table into N buckets "
        "(bucket-count evolution for table growth; one full-table "
        "rewrite committed as a snapshot, content unchanged)",
    )
    ap.add_argument(
        "--auto-split-rows-per-bucket", type=int, default=None, metavar="N",
        help="autonomous layout growth: when mean live rows/bucket "
        "exceeds N, the job doubles the bucket count (metadata-only "
        "split) and migrates a bounded slice of shared buckets per "
        "batch — no operator action as the table grows",
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
        "--expect", action="append", default=None, metavar="SPEC",
        help="blocking data-quality gate per batch (write-audit-publish; "
        "repeatable). SPEC: not_null:col | unique:colA+colB | "
        "in_set:col:v1|v2 | range:col:lo:hi (empty lo/hi = open). A "
        "violation aborts BEFORE the MERGE; table and watermark stay "
        "untouched and the batch replays after the fix",
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
        "--bloom-cols", default=None, metavar="COL[,COL...]",
        help="stamp per-file bloom bitmaps over these columns at every "
        "write (Delta bloom-index analogue; table-creation time only) "
        "so exact-value point reads via read_where_in skip files that "
        "min/max bounds cannot; --write-mode mor deltas carry no "
        "bitmaps until compaction",
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
    args = ap.parse_args()
    if args.compact_sort_by and "," in args.compact_sort_by:
        # two+ columns = z-order clustering
        args.compact_sort_by = [
            c.strip() for c in args.compact_sort_by.split(",") if c.strip()
        ]

    expectations = [parse_expect(s) for s in (args.expect or [])]

    from pyspark.sql import SparkSession

    from mysql_tracker_spark.session import engine_sql_conf

    spark = SparkSession.builder.appName("mysql-tracker-spark-apply").getOrCreate()
    for k, v in engine_sql_conf(spark.sparkContext.defaultParallelism).items():
        spark.conf.set(k, v)

    if args.rollback_to is not None:
        from mysql_tracker_spark.lakestore import LakeTable

        v = LakeTable.load(args.table).rollback(args.rollback_to)
        print(
            json.dumps({"rollback_to": args.rollback_to, "new_version": v}),
            file=sys.stderr,
        )

    if args.fast_forward is not None:
        from mysql_tracker_spark.lakestore import LakeTable

        v = LakeTable.load(args.table).fast_forward(
            args.fast_forward, spark=spark
        )
        print(
            json.dumps({"fast_forward": args.fast_forward, "new_version": v}),
            file=sys.stderr,
        )

    if args.drop_branch is not None:
        from mysql_tracker_spark.lakestore import LakeTable

        n = LakeTable.load(args.table).drop_branch(args.drop_branch)
        print(
            json.dumps({"drop_branch": args.drop_branch, "files_removed": n}),
            file=sys.stderr,
        )

    if args.fsck:
        from mysql_tracker_spark.lakestore import LakeTable

        r = LakeTable.load(args.table).validate(spark, deep=args.fsck == "deep")
        print(json.dumps({"fsck": r}), file=sys.stderr)
        if not r["ok"]:
            sys.exit(3)

    if args.compact:
        from mysql_tracker_spark.lakestore import LakeTable

        v, done = LakeTable.load(args.table).compact(
            spark,
            sort_by=args.compact_sort_by,
            files_per_bucket=args.compact_files_per_bucket or 1,
        )
        print(
            json.dumps({"compact_version": v, "compacted_buckets": done}),
            file=sys.stderr,
        )

    if args.rescale_buckets is not None:
        from mysql_tracker_spark.lakestore import LakeTable

        v = LakeTable.load(args.table).rescale_buckets(spark, args.rescale_buckets)
        print(
            json.dumps({"rescale_buckets": args.rescale_buckets, "new_version": v}),
            file=sys.stderr,
        )

    if args.split_buckets is not None:
        from mysql_tracker_spark.lakestore import LakeTable

        t = LakeTable.load(args.table)
        v = t.split_buckets(args.split_buckets)
        print(
            json.dumps(
                {
                    "split_buckets_factor": args.split_buckets,
                    "n_buckets": t.manifest()["n_buckets"],
                    "new_version": v,
                    "shared_buckets": len(t.shared_buckets()),
                }
            ),
            file=sys.stderr,
        )

    if args.gc_orphans is not None:
        from mysql_tracker_spark.lakestore import LakeTable

        n = LakeTable.load(args.table).gc_orphans(min_age_s=args.gc_orphans)
        print(json.dumps({"gc_orphans_removed": n}), file=sys.stderr)

    if args.delete_where:
        from mysql_tracker_spark.lakestore import LakeTable

        def _parse_bound(s):
            if s == "":
                return None
            for cast in (int, float):
                try:
                    return cast(s)
                except ValueError:
                    pass
            try:
                import datetime as _dt

                return _dt.datetime.fromisoformat(s)
            except ValueError:
                return s

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
        v, n = LakeTable.load(args.table).delete_where(spark, preds)
        print(
            json.dumps({"delete_where_version": v, "rows_deleted": n}),
            file=sys.stderr,
        )

    # ONE JobConfig for every path: the --config file (or the
    # defaults) with each flag passed on top; the batch and the
    # streaming job are built from it the same way
    from mysql_tracker_spark.config import JobConfig
    from mysql_tracker_spark.runner import CdcApplyJob

    cfg = JobConfig.load(args.config) if args.config else JobConfig()
    flags = {
        "input_dir": args.input,
        "table_path": args.table,
        "source_format": args.format,
        "n_buckets": args.buckets,
        "files_per_batch": args.files_per_batch,
        "on_destructive_ddl": args.on_destructive_ddl,
        "n_salts": args.salts,
        "quarantine_dir": args.quarantine_dir,
        "write_mode": args.write_mode,
        "mor_compact_threshold": args.mor_compact_threshold,
        "compact_sort_by": args.compact_sort_by,
        "compact_files_per_bucket": args.compact_files_per_bucket,
        "bloom_cols": [c for c in args.bloom_cols.split(",") if c]
        if args.bloom_cols is not None
        else None,
        "auto_split_rows_per_bucket": args.auto_split_rows_per_bucket,
        "branch": args.branch,
        "expire_keep_last": args.expire_keep_last,
        "gtid_list": args.gtid_list,
        "gtid_set": args.gtid_set,
        "incident_policy": args.incident_policy,
    }
    cfg = dataclasses.replace(cfg, **{k: v for k, v in flags.items() if v is not None})
    # parsed --expect gates (built Expect objects, not JSON specs)
    extra = {"expectations": expectations} if expectations else {}

    if args.streaming:
        if cfg.branch is not None:
            print("branch is batch-mode only", file=sys.stderr)
            sys.exit(2)
        from mysql_tracker_spark.streaming import CdcStreamJob

        stream = CdcStreamJob(
            spark,
            cfg.input_dir,
            cfg.table_path,
            checkpoint_dir=args.checkpoint or args.table + "_ckpt",
            source_format=cfg.source_format,
            config=cfg,
            **extra,
        )
        job = stream.job
    else:
        job = CdcApplyJob(spark, cfg.input_dir, cfg.table_path, cfg, **extra)
        if args.bootstrap_snapshot is not None:
            snap_dir, bfile, bpos = args.bootstrap_snapshot
            v = job.bootstrap_snapshot(
                spark.read.parquet(snap_dir), bfile, int(bpos)
            )
            print(
                json.dumps(
                    {"bootstrap_version": v, "fence": [bfile, int(bpos)]}
                ),
                file=sys.stderr,
            )
    if args.reset_policy:
        probe = job.validate_position(reset_policy=args.reset_policy)
        print(json.dumps({"position_probe": probe}), file=sys.stderr)
    stats = (
        stream.run_available()
        if args.streaming
        else job.run(max_batches=args.max_batches)
    )

    total = 0
    for s in stats:
        print(json.dumps(s.__dict__, default=str))
        total += s.rows_in
    print(json.dumps({"batches": len(stats), "events": total}), file=sys.stderr)

    if args.changes_from is not None and not args.streaming:
        from mysql_tracker_spark.lakestore import LakeTable

        t = LakeTable.load(args.table)
        for r in t.read_changes(spark, args.changes_from).toJSON().toLocalIterator():
            print(r)
    spark.stop()


if __name__ == "__main__":
    main()
