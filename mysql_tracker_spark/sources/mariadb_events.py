"""MariaDB binlog event surface (SURVEY.md §2 parity item).

The reference enumerates four MariaDB-specific event types alongside
the ~36 MySQL ones (``mysql/dbsync/LogEvent.java:189-214``):

==================  ===  =============================================
ANNOTATE_ROWS       160  the original SQL text of the following row
                         events (``--binlog-annotate-row-events``)
BINLOG_CHECKPOINT   161  XA crash-recovery checkpoint: a binlog file
                         name from which recovery can start
GTID                162  starts an event group (replaces the BEGIN
                         query event) — domain/server/seqno triple
GTID_LIST           163  logged at the start of every binlog: the last
                         GTID seen per replication domain
==================  ===  =============================================

A MariaDB capture pointed at the engine hits these before anything
else (GTID_LIST is the FIRST event of every MariaDB binlog).  The
engine's stance mirrors its MySQL one (and the reference's decoder
BitSet, ``LogDecoder.java:108-134``):

* **wire/frame level** — the types are enumerated and classified;
  none of them is a row event, so the JVM pre-decode gate
  (``runner._WireSource.keyed_changes``: header type byte in 30/31/32) skips
  them without a Python decode, exactly like BEGIN/COMMIT frames.
* **byte level** — the real MariaDB body layouts (public format,
  documented in the MariaDB knowledge base "Replication Protocol"
  pages; field-compatible with the reference's enumeration) are
  decoded here so captured payloads can be classified, and GTID_LIST
  seeds the replication-state fence: :func:`gtid_list_fence` +
  :func:`after_mariadb_gtid_list` are the MariaDB twin of the MySQL
  ``operators.parse.after_gtid_set`` GTID-set fence.

Nothing in this module runs per row on the data path: the body
decoders handle single control frames (a handful per binlog file),
and the fence compiles to a constant Spark predicate.
"""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame, functions as F

# LogEvent.java:189-214
MARIA_EVENTS_BEGIN = 160
ANNOTATE_ROWS_EVENT = 160
BINLOG_CHECKPOINT_EVENT = 161
GTID_EVENT = 162
GTID_LIST_EVENT = 163
ENUM_END_EVENT = 164

MARIADB_EVENT_NAMES = {
    ANNOTATE_ROWS_EVENT: "ANNOTATE",
    BINLOG_CHECKPOINT_EVENT: "CHECKPOINT",
    GTID_EVENT: "GTID",
    GTID_LIST_EVENT: "GTID_LIST",
}

#: MariaDB GTID event flag: this group is standalone (no terminating
#: COMMIT/Xid — e.g. a DDL statement).  MariaDB KB: Gtid_log_event.
FL_STANDALONE = 1


def classify_event_type(type_byte: int) -> str:
    """``mysql`` / ``mariadb`` / ``unknown`` for a header type byte —
    the dispatch vocabulary of the reference's LogDecoder."""
    if 0 <= type_byte < 36:  # MYSQL_EVENTS_END (LogEvent.java:188)
        return "mysql"
    if MARIA_EVENTS_BEGIN <= type_byte < ENUM_END_EVENT:
        return "mariadb"
    return "unknown"


# ---------------------------------------------------------------- bodies
# Post-header body layouts (checksum already stripped by the framing
# layer, as in LogDecoder.java:158-169).  All integers little-endian.


def decode_gtid_body(body: bytes, server_id: int) -> dict:
    """GTID_EVENT (162) body: u64 seqno, u32 domain_id, u8 flags2
    [+ optional commit id / xid, ignored — the engine fences on
    domain/seqno only].  Returns the triple plus the canonical
    ``"domain-server_id-seqno"`` rendering (MariaDB's GTID text form).
    """
    if len(body) < 13:
        raise ValueError(f"GTID_EVENT body too short: {len(body)} bytes")
    seqno, domain, flags2 = struct.unpack_from("<QIB", body, 0)
    return {
        "domain_id": domain,
        "server_id": server_id,
        "seqno": seqno,
        "standalone": bool(flags2 & FL_STANDALONE),
        "gtid": f"{domain}-{server_id}-{seqno}",
    }


def decode_gtid_list_body(body: bytes) -> list[dict]:
    """GTID_LIST_EVENT (163) body: u32 count (lower 28 bits; top 4 bits
    are flags), then ``count`` x (u32 domain_id, u32 server_id,
    u64 seqno)."""
    if len(body) < 4:
        raise ValueError("GTID_LIST_EVENT body too short")
    (raw_count,) = struct.unpack_from("<I", body, 0)
    count = raw_count & 0x0FFFFFFF
    need = 4 + 16 * count
    if len(body) < need:
        raise ValueError(
            f"GTID_LIST_EVENT: {count} entries need {need} bytes, "
            f"got {len(body)}"
        )
    out = []
    for i in range(count):
        domain, server, seqno = struct.unpack_from("<IIQ", body, 4 + 16 * i)
        out.append(
            {
                "domain_id": domain,
                "server_id": server,
                "seqno": seqno,
                "gtid": f"{domain}-{server}-{seqno}",
            }
        )
    return out


def decode_annotate_body(body: bytes) -> str:
    """ANNOTATE_ROWS_EVENT (160) body: the SQL statement text, no
    length prefix (the statement runs to the end of the event)."""
    return body.decode("utf-8", "replace")


def decode_binlog_checkpoint_body(body: bytes) -> str:
    """BINLOG_CHECKPOINT_EVENT (161) body: u32 filename length, then
    the binlog file name."""
    if len(body) < 4:
        raise ValueError("BINLOG_CHECKPOINT_EVENT body too short")
    (flen,) = struct.unpack_from("<I", body, 0)
    if len(body) < 4 + flen:
        raise ValueError("BINLOG_CHECKPOINT_EVENT: truncated filename")
    return body[4 : 4 + flen].decode("utf-8", "replace")


# ----------------------------------------------------------------- fence


def gtid_list_fence(entries: list[dict] | str) -> dict[int, int]:
    """Per-domain replication state from a decoded GTID_LIST (or its
    text form ``"0-1-100,1-2-7"``): domain_id -> last executed seqno.
    Later entries for the same domain win (a well-formed list has one
    entry per domain)."""
    if isinstance(entries, str):
        parsed = []
        for part in entries.split(","):
            part = part.strip()
            if not part:
                continue
            bits = part.split("-")
            if len(bits) != 3:
                raise ValueError(f"malformed MariaDB GTID {part!r}")
            parsed.append(
                {
                    "domain_id": int(bits[0]),
                    "server_id": int(bits[1]),
                    "seqno": int(bits[2]),
                }
            )
        entries = parsed
    return {e["domain_id"]: e["seqno"] for e in entries}


def after_mariadb_gtid_list(df: DataFrame, executed: list[dict] | str) -> DataFrame:
    """MariaDB twin of ``operators.parse.after_gtid_set``: drop events
    whose ``gtid`` column (text form ``"domain-server-seqno"``) is
    already covered by the GTID_LIST replication state — seqno at or
    below the domain's fence.  Events without a gtid (control frames,
    DDL) pass through; unknown domains pass through (the fence has no
    claim on them).  Compiles to a constant predicate — fence size is
    the number of replication domains, never the number of
    transactions."""
    fence = gtid_list_fence(executed)
    if not fence:
        return df
    is_maria, inside = mariadb_gtid_inside_predicate(fence)
    return df.filter(
        F.col("gtid").isNull() | ~is_maria | ~inside
    )


def mariadb_gtid_inside_predicate(fence: dict[int, int]):
    """``(is_maria, inside)`` Column predicates over a ``gtid`` column
    for a compiled :func:`gtid_list_fence` — the core of
    :func:`after_mariadb_gtid_list`, exposed separately so the wire
    path can apply it to the tiny GTID-frame projection (one row per
    transaction-opening GTID event) instead of per data row."""
    # only well-formed MariaDB GTIDs participate: a MySQL-form gtid
    # ("uuid:txn" — the uuid contains dashes) would otherwise parse to
    # NULL fields, null-poison the predicate, and be silently dropped
    is_maria = F.col("gtid").rlike(r"^\d+-\d+-\d+$")
    # decimal(20,0) holds the full u32 domain and u64 seqno range — a
    # 32-bit int cast would turn domain ids above 2^31-1 into NULL,
    # null-poison the predicate, and silently DROP never-replicated
    # events from high-numbered domains
    dom = F.split(F.col("gtid"), "-").getItem(0).cast("decimal(20,0)")
    seq = F.split(F.col("gtid"), "-").getItem(2).cast("decimal(20,0)")
    inside = F.lit(False)
    for d, s in fence.items():
        d_lit = F.lit(str(int(d))).cast("decimal(20,0)")
        s_lit = F.lit(str(int(s))).cast("decimal(20,0)")
        inside = inside | ((dom == d_lit) & (seq <= s_lit))
    return is_maria, inside


# ------------------------------------------------- generator flavoring


def mariadb_flavor(events, domain_id: int = 0):
    """Re-flavor a generated MySQL-shaped change stream
    (:func:`binlog_gen.gen_change_events` output) as a MariaDB binlog:

    * every BEGIN query event becomes a GTID event (op ``GTID``,
      payload ``domain-server-seqno`` in ``ddl_sql``) — MariaDB starts
      event groups with GTID instead of BEGIN;
    * an ANNOTATE_ROWS frame is injected immediately before each
      transaction's first row frame (at ``pos-1`` — frame sizes are
      >1, so the offset is free and ordering is preserved);
    * a GTID_LIST frame (the replication state, here empty-stream
      ``domain-1-0``) and a BINLOG_CHECKPOINT frame open the stream.

    DML frames, positions, timestamps, xids, and the duplicated replay
    tail are byte-untouched, so the LWW oracle of the original stream
    is the oracle of the flavored one."""
    import pandas as pd

    ev = events.copy()
    is_begin = ev["op"] == "BEGIN"
    ev.loc[is_begin, "op"] = "GTID"
    ev.loc[is_begin, "ddl_sql"] = (
        f"{domain_id}-1-" + ev.loc[is_begin, "xid"].astype("Int64").astype(str)
    )

    def _ctl(file, pos, ts, op, payload, xid=None):
        return {
            "file": file,
            "pos": int(pos),
            "row_idx": 0,
            "server_id": 1,
            "ts": ts,
            "xid": xid,
            "gtid": None,
            "op": op,
            "schema_name": None,
            "table_name": None,
            "is_ddl": False,
            "ddl_sql": payload,
            "before": None,
            "after": None,
        }

    # STREAM ORDER, not (file,pos) order: the generator's duplicated
    # replay tail repeats earlier (file,pos) pairs at the END of the
    # stream — a (file,pos) sort would fold it back in and change the
    # replay semantics. Injected frames get fractional order keys just
    # before their anchor row.
    ev["__ord"] = np.arange(len(ev), dtype="float64")

    extra = []
    # one ANNOTATE per transaction, before its first DML frame (first
    # occurrence only — the replay tail replays rows, not annotations)
    dml = ev[ev["op"].isin(["INSERT", "UPDATE", "DELETE"])]
    first = dml.drop_duplicates(subset=["xid"], keep="first")
    for idx, r in first.iterrows():  # one row per txn — tiny loop
        c = _ctl(
            r["file"],
            int(r["pos"]) - 1,
            r["ts"],
            "ANNOTATE",
            f"/* annotate */ REPLACE INTO {r['schema_name']}.{r['table_name']}",
            xid=r["xid"],
        )
        c["__ord"] = float(idx) - 0.5
        extra.append(c)
    head = ev.iloc[0]
    gl = _ctl(head["file"], 2, head["ts"], "GTID_LIST", f"{domain_id}-1-0")
    gl["__ord"] = -0.8
    cp = _ctl(head["file"], 3, head["ts"], "CHECKPOINT", head["file"])
    cp["__ord"] = -0.7
    extra += [gl, cp]
    flavored = pd.concat([ev, pd.DataFrame(extra)], ignore_index=True)
    flavored["xid"] = flavored["xid"].astype("Int64")
    for c in ("row_idx", "pos", "server_id"):
        # concat with the control-frame dict rows promotes dtypes;
        # DML bytes must stay identical to the unflavored stream
        flavored[c] = flavored[c].astype(ev[c].dtype)
    flavored = (
        flavored.sort_values("__ord", kind="stable")
        .drop(columns="__ord")
        .reset_index(drop=True)
    )
    return flavored
