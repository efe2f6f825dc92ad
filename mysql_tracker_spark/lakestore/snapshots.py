"""The snapshot chain: one directory of ``v%08d.json`` documents, one
per committed version — the only module that knows that format.

The lakestore table (``snapshots/``, plus one chain per branch), the
event log (``snapshots/``) and each materialized view (``meta/``) keep
their commit history as such a chain; the changes source reads the
table's. A version exists iff its file exists, and a commit is the
exclusive, torn-write-proof creation of the next file
(:func:`write_file_atomic`): the loser of a race gets
``FileExistsError``, and a crash at any instruction leaves either no
file or a complete one. Crash-stranded ``.tmp-`` temps are invisible
to :func:`versions` and reclaimed by :func:`reap_temps`.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Iterator


def _path(d: str, v: int) -> str:
    return os.path.join(d, f"v{v:08d}.json")


def versions(d: str) -> list[int]:
    """Committed versions in ``d``, ascending; ``[]`` when ``d`` is
    missing."""
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return []
    return sorted(
        int(f[1:-5]) for f in names if f.startswith("v") and f.endswith(".json")
    )


def latest(d: str) -> int | None:
    """Newest committed version, or None when the chain is empty."""
    vs = versions(d)
    return vs[-1] if vs else None


def load(d: str, v: int) -> dict:
    with open(_path(d, v)) as f:
        return json.load(f)


def docs(d: str) -> Iterator[dict]:
    """Every retained document, oldest first. Driver-side json reads: a
    full walk is O(retained versions × document size), so keep
    retention bounded (:func:`expire`) on hot chains."""
    for v in versions(d):
        yield load(d, v)


def commit(
    d: str,
    doc: dict,
    version: int | None = None,
    separators: tuple[str, str] | None = (",", ":"),
) -> int:
    """Commit ``doc`` as ``version`` (default ``doc["version"]``);
    raises ``FileExistsError`` when that version is already taken.
    ``d`` must exist. ``separators`` is ``json.dumps``'s: a view's meta
    documents have always been written with json's defaults (None)."""
    v = doc["version"] if version is None else version
    write_file_atomic(_path(d, v), json.dumps(doc, separators=separators).encode())
    return v


def expire(d: str, keep_last: int, protected=()) -> list[dict]:
    """Delete all but the newest ``keep_last`` versions (none when
    ``keep_last`` <= 0), sparing ``protected`` ones, and return the
    dropped documents — read BEFORE any is deleted, so the caller can
    reap exactly the files only they referenced (a directory walk
    instead would race a concurrent writer's not-yet-committed
    files)."""
    vs = versions(d)
    drop = [v for v in (vs[:-keep_last] if keep_last > 0 else []) if v not in protected]
    dropped = [load(d, v) for v in drop]
    for v in drop:
        os.remove(_path(d, v))
    return dropped


def reap_temps(d: str, min_age_s: float) -> int:
    """Remove :func:`write_file_atomic` temps in ``d`` untouched for
    ``min_age_s`` (written but never linked, or the unlink after the
    link never ran); the age guard spares an in-flight writer. Returns
    the number removed."""
    if not os.path.isdir(d):
        return 0
    now = time.time()
    removed = 0
    for fn in os.listdir(d):
        full = os.path.join(d, fn)
        if fn.startswith(".tmp-") and now - os.path.getmtime(full) >= min_age_s:
            os.remove(full)
            removed += 1
    return removed


def write_file_atomic(path: str, payload: bytes) -> None:
    """Torn-write-proof exclusive file create: the payload is FULLY
    written (os.write may return short — loop until drained) and
    fsynced to a sideways dot-temp, then hard-LINKed to the target name
    and the directory entry fsynced. link(2) is atomic and raises
    ``FileExistsError`` when a concurrent writer claimed the name (the
    same loser-detection contract as ``O_CREAT|O_EXCL``), but unlike
    create-then-write a crash at ANY instruction leaves either no
    target file or a COMPLETE one — never a truncated JSON squatting on
    a name every subsequent reader would choke on. The directory fsync
    persists the entry itself: without it a power loss after return
    could roll back a commit the caller already acted on."""
    d = os.path.dirname(path)
    tmp = os.path.join(
        d, f".tmp-{os.path.basename(path)}-{uuid.uuid4().hex[:12]}"
    )
    fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    try:
        mv = memoryview(payload)
        while mv:
            written = os.write(fd, mv)
            mv = mv[written:]
        os.fsync(fd)
    finally:
        os.close(fd)
    try:
        os.link(tmp, path)  # atomic exclusive claim of the name
    finally:
        os.unlink(tmp)
    dfd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)
