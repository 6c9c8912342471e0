"""systemd journal EXPORT format — the journald dump/forwarding wire.

Public format (systemd's journal-export-format doc): entries separated by
an empty line; a text field is ``NAME=value\\n``; a field whose value
contains newlines/binary is serialized as ``NAME\\n`` + little-endian
u64 size + raw bytes + ``\\n``.  This is what ``journalctl -o export``
and systemd-journal-remote speak — the host-log sibling of the syslog
and GELF intakes, with the one wrinkle the others lack: binary-safe
values, which force a byte-walk (per body through
``sources/decoders.py::decode_bodies``, the msgpack pattern) instead of
a line split.

Decode is lenient per ENTRY: a semantically bad entry (missing
timestamp, garbage numeric) costs one valid=false row and its neighbors
survive; a framing TEAR (truncated size prefix, overrunning binary
value, missing trailing newline) costs one valid=false row plus the
unreachable remainder of that blob — binary sizes make resynchronization
impossible, but every entry parsed before the tear still survives.
Framing is strict within an entry: a size running past the blob is torn,
never silently truncated.  A NULL blob yields no rows.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decoders import decode_bodies


def parse_export(blob: bytes) -> list[dict]:
    """Blob -> list of {field: bytes} entries (values as raw bytes; the
    caller decides which fields are text).  Raises at the torn point —
    ``iter_export`` is the incremental form the lenient intake uses."""
    return list(iter_export(blob))


def iter_export(blob: bytes):
    """Yield complete entries until the blob ends or framing tears.
    Binary sizes make resynchronization after a tear impossible, so a
    framing error loses the REST of the blob — but every entry already
    yielded survives (the intake turns the tear into one valid=false
    row beside them)."""
    cur: dict = {}
    pos, n = 0, len(blob)
    while pos < n:
        nl = blob.find(b"\n", pos)
        if nl < 0:
            raise ValueError("journal export truncated mid-line")
        line = blob[pos:nl]
        pos = nl + 1
        if line == b"":
            if cur:
                yield cur
                cur = {}
            continue
        eq = line.find(b"=")
        if eq >= 0:
            cur[line[:eq].decode("ascii")] = line[eq + 1 :]
        else:  # binary field: name line, then u64 size + data + \n
            name = line.decode("ascii")
            if pos + 8 > n:
                raise ValueError("journal export truncated size prefix")
            (size,) = struct.unpack_from("<Q", blob, pos)
            pos += 8
            if pos + size + 1 > n:
                raise ValueError("journal export binary value overruns blob")
            cur[name] = blob[pos : pos + size]
            pos += size
            if blob[pos : pos + 1] != b"\n":
                raise ValueError("journal export binary value missing newline")
            pos += 1
    if cur:
        yield cur


def decode_journal_export(df: DataFrame, body_col: str = "body") -> DataFrame:
    """Export blobs -> ``(realtime_us, priority, hostname, message,
    msg_bytes, msg_was_binary, valid)``; a malformed blob yields one
    valid=false row."""
    bad = {"valid": False}

    def _one(e: dict) -> dict:
        msg = e.get("MESSAGE", b"")
        return {
            "realtime_us": int(e["__REALTIME_TIMESTAMP"]),
            "priority": int(e.get("PRIORITY", b"6")),
            "hostname": e.get("_HOSTNAME", b"").decode("utf-8", "replace"),
            "message": msg.decode("utf-8", "replace"),
            "msg_bytes": len(msg),
            "msg_was_binary": b"\n" in msg,
            "valid": True,
        }

    def _entries(body: bytes):
        it = iter_export(body)
        # per-entry leniency: a bad ENTRY (missing timestamp, garbage
        # numeric) costs one invalid row and neighbors survive; a framing
        # TEAR costs one invalid row plus the unreachable remainder
        # (binary sizes make resync impossible) — entries already yielded
        # still survive
        while True:
            try:
                e = next(it)
            except StopIteration:
                return
            except (ValueError, struct.error, UnicodeDecodeError):
                yield bad
                return
            try:
                yield _one(e)
            except (ValueError, TypeError, KeyError, UnicodeDecodeError):
                yield bad

    return decode_bodies(
        df,
        body_col,
        "realtime_us long, priority int, hostname string, message string, "
        "msg_bytes long, msg_was_binary boolean, valid boolean",
        _entries,
    )


def generate_journal_export(events: DataFrame, shards: int = 8) -> DataFrame:
    """Events -> one export blob per shard: every 11th entry carries a
    BINARY MESSAGE (embedded newline forces the u64-framed form), the
    rest plain ``MESSAGE=``; priorities/hosts closed-form."""
    import pandas as pd

    prepared = events.select(
        (F.col("event_id") % shards).alias("shard"),
        F.col("event_id").alias("eid"),
        F.col("user_id").alias("uid"),
        F.expr("unix_timestamp(ts)").alias("epoch"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("eid")
        out = bytearray()
        for eid, uid, epoch in zip(pdf["eid"], pdf["uid"], pdf["epoch"]):
            eid, uid, epoch = int(eid), int(uid), int(epoch)
            out += f"__REALTIME_TIMESTAMP={epoch * 1000000}\n".encode()
            out += f"PRIORITY={eid % 8}\n".encode()
            out += f"_HOSTNAME=h{uid % 20}\n".encode()
            if eid % 11 == 0:
                msg = f"line1 e{eid}\nline2".encode()
                out += b"MESSAGE\n" + struct.pack("<Q", len(msg)) + msg + b"\n"
            else:
                out += f"MESSAGE=msg {eid}\n".encode()
            out += b"\n"
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "body": [bytes(out)]}
        )

    return prepared.groupBy("shard").applyInPandas(
        _pack, schema="shard long, body binary"
    )
