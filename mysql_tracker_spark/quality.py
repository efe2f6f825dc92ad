"""Data-quality expectations over a DataFrame (the Delta Live Tables
"expectations" / Iceberg-validation analogue).

The reference trusts its input implicitly (binlog rows are applied as
decoded; bad rows surface as downstream HBase/Kafka write failures,
``tracker/HandlerNoParserMagpieHBase.java`` just logs). An ingest
engine owning a lake table needs declared invariants with MEASURED
violation counts instead — both as a gate (fail the batch) and as a
metric stream (quarantine-rate monitoring alongside M1 counters).

Design: every row-level expectation (not-null / in-set / range /
custom predicate) compiles to one ``sum(CASE WHEN violated)`` term of
a SINGLE aggregation over one scan — checking ten invariants costs one
pass, map-side combined. Key-level expectations (``unique``) need
their own groupBy (a shuffle on the key — the same one the MERGE
already uses, so on bucketed tables it stays cheap). Results come back
as one tiny DataFrame ``(name, violations, passed)``; ``enforce``
raises if any declared-as-blocking expectation fails.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F


@dataclass(frozen=True)
class Expect:
    """One named invariant. ``kind``: not_null | in_set | range |
    predicate | unique. ``blocking`` marks it as a gate for
    :func:`enforce`."""

    name: str
    kind: str
    cols: tuple = ()
    values: tuple = ()
    lo: float | None = None
    hi: float | None = None
    predicate: Column | None = field(default=None, compare=False)
    blocking: bool = False
    # a SQL PASS expression compiled when the check runs (a Column
    # needs an active SparkSession; the SQL text does not)
    sql: str | None = None


def not_null(name: str, col: str, blocking: bool = False) -> Expect:
    return Expect(name, "not_null", (col,), blocking=blocking)


def in_set(name: str, col: str, values, blocking: bool = False) -> Expect:
    return Expect(name, "in_set", (col,), tuple(values), blocking=blocking)


def in_range(name, col, lo=None, hi=None, blocking: bool = False) -> Expect:
    return Expect(name, "range", (col,), lo=lo, hi=hi, blocking=blocking)


def predicate(name: str, cond: Column, blocking: bool = False) -> Expect:
    """``cond`` is the PASS condition; null counts as a violation."""
    return Expect(name, "predicate", predicate=cond, blocking=blocking)


def unique(name: str, cols, blocking: bool = False) -> Expect:
    return Expect(name, "unique", tuple(cols), blocking=blocking)


def from_spec(spec: dict) -> Expect:
    """Build an expectation from a JSON-able dict — the declarative
    form a :class:`~mysql_tracker_spark.config.JobConfig` carries so
    spark-submit jobs declare gates in the per-job JSON (the
    reference's TrackerConf style) without Python code. Kinds map 1:1
    to the constructors above; ``sql`` carries a SQL boolean PASS
    expression, compiled via ``F.expr`` when the check runs, so a spec
    needs no SparkSession to build."""
    kind, name = spec["kind"], spec["name"]
    blocking = bool(spec.get("blocking", False))
    if kind == "not_null":
        return not_null(name, spec["col"], blocking)
    if kind == "in_set":
        return in_set(name, spec["col"], spec["values"], blocking)
    if kind == "range":
        return in_range(name, spec["col"], spec.get("lo"), spec.get("hi"), blocking)
    if kind == "unique":
        return unique(name, spec["cols"], blocking)
    if kind == "sql":
        return Expect(name, "predicate", sql=spec["expr"], blocking=blocking)
    raise ValueError(f"unknown expectation kind: {kind!r}")


def from_specs(specs) -> list[Expect]:
    """Spec dicts built into expectations; built ones pass through."""
    return [s if isinstance(s, Expect) else from_spec(s) for s in (specs or [])]


def _violation_term(e: Expect) -> Column:
    c = F.col(e.cols[0]) if e.cols else None
    if e.kind == "not_null":
        bad = c.isNull()
    elif e.kind == "in_set":
        bad = ~c.isin(list(e.values)) | c.isNull()
    elif e.kind == "range":
        bad = c.isNull()
        if e.lo is not None:
            bad = bad | (c < e.lo)
        if e.hi is not None:
            bad = bad | (c > e.hi)
    elif e.kind == "predicate":
        cond = e.predicate if e.sql is None else F.expr(e.sql)
        bad = ~F.coalesce(cond, F.lit(False))
    else:
        raise ValueError(f"not a row-level expectation: {e.kind}")
    return F.sum(bad.cast("long")).alias(e.name)


def run_expectations(df: DataFrame, expects: list[Expect]) -> DataFrame:
    """``(name, violations, passed)`` — one row per expectation, in
    declaration order (ordinal column kept for deterministic sorting).
    Row-level checks share ONE aggregation pass; each ``unique`` adds
    one groupBy on its key columns."""
    spark = df.sparkSession
    row_level = [e for e in expects if e.kind != "unique"]
    uniques = [e for e in expects if e.kind == "unique"]
    pieces = []
    if row_level:
        agg = df.agg(*[_violation_term(e) for e in row_level])
        cols = [
            F.struct(
                F.lit(e.name).alias("name"),
                F.coalesce(F.col(e.name), F.lit(0)).alias("violations"),
            )
            for e in row_level
        ]
        pieces.append(
            agg.select(F.explode(F.array(*cols)).alias("r")).select(
                "r.name", "r.violations"
            )
        )
    for e in uniques:
        dup = (
            df.groupBy(*e.cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .agg(F.coalesce(F.sum(F.col("__n") - 1), F.lit(0)).alias("violations"))
            .select(F.lit(e.name).alias("name"), "violations")
        )
        pieces.append(dup)
    if not pieces:
        # "no expectations" is a valid configuration — return an empty
        # results frame of the same shape instead of crashing
        from pyspark.sql import types as T

        return df.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("ord", T.IntegerType()),
                    T.StructField("name", T.StringType()),
                    T.StructField("violations", T.LongType()),
                    T.StructField("passed", T.BooleanType()),
                ]
            ),
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    order = {e.name: i for i, e in enumerate(expects)}
    omap = F.create_map(
        *[x for k, v in order.items() for x in (F.lit(k), F.lit(v))]
    )
    return out.select(
        omap[F.col("name")].cast("int").alias("ord"),
        "name",
        F.col("violations").cast("long").alias("violations"),
        (F.col("violations") == 0).alias("passed"),
    )


def enforce(df: DataFrame, expects: list[Expect]) -> DataFrame:
    """Run and RAISE if any blocking expectation has violations.
    Returns the results frame (already materialized) either way."""
    res = run_expectations(df, expects)
    rows = res.collect()
    blocking = {e.name for e in expects if e.blocking}
    failed = [r for r in rows if r.name in blocking and not r.passed]
    if failed:
        detail = ", ".join(f"{r.name}={r.violations}" for r in failed)
        raise ValueError(f"blocking data-quality expectations failed: {detail}")
    return res
