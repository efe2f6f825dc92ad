"""Shared pieces of the CDC benchmark: session, input cache, oracle
gate, host control, process wait, spans and small statistics.

Nothing here changes program code. Layers are timed from outside by
wrapping their public entry points for the length of a traced run
(:class:`Tracer`), then restoring them.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEM = "2g"  # fixed heap; session.get_spark otherwise asks for 48g


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def host_cores() -> int:
    """Cores this process may run on (cgroup/affinity aware)."""
    return len(os.sched_getaffinity(0))


def start_session():
    """``local[nproc]`` session with shuffle partitions = nproc and a
    fixed driver heap. Returns ``(spark, seconds_to_start)``."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # scratch (shuffle, python worker temp files) stays in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # python workers import the package from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    t0 = time.perf_counter()
    from mysql_tracker_spark.session import get_spark

    n = host_cores()
    spark = get_spark(
        app_name="perfbench",
        cores=n,
        shuffle_partitions=n,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()  # the first job starts the executor threads
    return spark, time.perf_counter() - t0


def jobs_submitted(spark) -> int:
    """Spark jobs submitted so far in this session (job ids are dense)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def control_ms(spark) -> float:
    """Fixed pure-JVM job (range -> groupBy -> max_by): host-noise arm."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, 1_000_000, numPartitions=host_cores())
        .groupBy((F.col("id") % 4096).alias("k"))
        .agg(F.max_by("id", (F.col("id") * 7919) % 10007).alias("m"))
        .agg(F.sum("m"))
        .collect()
    )
    return (time.perf_counter() - t0) * 1000.0


# ------------------------------------------------------------------ cache


def cached(key: str, build) -> str:
    """Directory ``CACHE/key`` built once by ``build(tmp_dir)``; later
    calls (same seed and size) reuse it. Built in a temp dir and renamed
    so an interrupted build never looks complete."""
    d = os.path.join(CACHE, key)
    if os.path.exists(os.path.join(d, "_COMPLETE")):
        return d
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        f.write("ok")
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


def write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def read_json(path: str):
    with open(path) as f:
        return json.load(f)


# ------------------------------------------------------------ oracle gate


def canonical(pdf):
    """Normalize a transcripts frame (table read or oracle) so equal
    states compare equal: int64 keys, nullable score, text timestamps,
    stable row order."""
    df = pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts", "score"]].copy()
    df["turn_idx"] = df["turn_idx"].astype("int64")
    df["score"] = df["score"].astype("Int64")
    df["ts"] = df["ts"].astype(str)
    return df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def digest(pdf) -> str:
    return hashlib.sha256(
        canonical(pdf).to_csv(index=False, na_rep="<null>").encode()
    ).hexdigest()


def rows_digest(rows) -> str:
    """Digest of collected transcripts rows (one point read)."""
    import pandas as pd

    return digest(pd.DataFrame([r.asDict() for r in rows]))


def oracle(events, seed: int, n_points: int) -> dict:
    """The sequential oracle's answers: the final table's digest and
    scan aggregates, and ``n_points`` conversations drawn from ``seed``,
    each with the digest of its rows."""
    import numpy as np

    from mysql_tracker_spark.sources.binlog_gen import expected_final_state

    exp = expected_final_state(events)
    convs = sorted(exp["conv_id"].unique())
    keys = [convs[i] for i in np.random.default_rng(seed).integers(0, len(convs), n_points)]
    return {
        "digest": digest(exp),
        "rows": int(len(exp)),
        "text_len": int(exp["text"].str.len().sum()),
        "score_sum": int(exp["score"].sum()),
        "points": [[k, digest(exp[exp["conv_id"] == k])] for k in keys],
    }


def gate(spark, table_path: str, expected: dict) -> list[str]:
    """Untimed end-of-run correctness gate. Returns the failures: a
    digest mismatch against the oracle, and any staging directory left
    in the table."""
    from mysql_tracker_spark.lakestore.table import LakeTable

    errs = []
    got = digest(LakeTable.load(table_path).read(spark).toPandas())
    if got != expected["digest"]:
        errs.append(f"digest {got[:12]} != oracle {expected['digest'][:12]}")
    left = [
        n for n in os.listdir(table_path)
        if n.startswith("_delta_") or n.startswith("_winners_")
    ]
    if left:
        errs.append(f"staging dirs left behind: {sorted(left)[:4]}")
    return errs


# -------------------------------------------------------------- processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants() -> list[int]:
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def wait_for_descendants(timeout_s: float = 30.0) -> None:
    """Wait until every process this one started has exited."""
    deadline = time.monotonic() + timeout_s
    while _descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


# ----------------------------------------------------------------- spans


class Tracer:
    """In-memory spans around wrapped callables. Each span records its
    name, start and end (perf_counter and epoch ms), thread and parent
    span id; the parent is the innermost open span on the same thread,
    so work on a helper thread never nests under the main thread."""

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    def wrap(self, owner, attr: str, name: str, describe=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper.
        ``describe(args, kwargs)`` may add call details to the span."""
        own = attr in vars(owner)  # else inherited: unwrap deletes ours
        orig = inspect.getattr_static(owner, attr)
        tracer = self

        def traced(*a, **kw):
            stack = tracer._local.__dict__.setdefault("stack", [])
            with tracer._lock:
                sid = len(tracer.spans)
                span = {
                    "id": sid,
                    "parent": stack[-1] if stack else None,
                    "name": name,
                    "thread": threading.get_ident(),
                    "epoch_ms": time.time() * 1000.0,
                    "t0": time.perf_counter(),
                }
                if describe is not None:
                    span.update(describe(a, kw))
                tracer.spans.append(span)
            stack.append(sid)
            try:
                return orig(*a, **kw)
            finally:
                stack.pop()
                span["t1"] = time.perf_counter()

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig, own))

    def unwrap_all(self) -> None:
        for owner, attr, orig, own in reversed(self._undo):
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._undo.clear()

    def closed(self) -> list[dict]:
        return [s for s in self.spans if "t1" in s]

    def per_call_cost_s(self, n: int = 20000) -> float:
        """Measured cost one span adds to a call (wrapped minus bare)."""

        class _Probe:
            def f(self):
                return None

        p = _Probe()
        t0 = time.perf_counter()
        for _ in range(n):
            p.f()
        bare = time.perf_counter() - t0
        probe = Tracer()
        probe.wrap(_Probe, "f", "probe")
        try:
            t0 = time.perf_counter()
            for _ in range(n):
                p.f()
            wrapped = time.perf_counter() - t0
        finally:
            probe.unwrap_all()
        return max(wrapped - bare, 0.0) / n

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def dur_ms(span: dict) -> float:
    return (span["t1"] - span["t0"]) * 1000.0


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length (ms) of the union of (t0, t1) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total * 1000.0


# ------------------------------------------------------------ statistics


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
