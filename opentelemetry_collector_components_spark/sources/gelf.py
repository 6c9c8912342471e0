"""GELF datagram decode — chunked, compressed Graylog Extended Log Format
(public spec: docs.graylog.org GELF; magic bytes 0x1e 0x0f, 8-byte message
id, seq/total bytes, gzip/zlib/raw JSON payloads).

The UDP-shipped cousin of the syslog line (``sources/syslog.py``): agents
split a gzip-compressed JSON document across <= 128 datagrams, and the
receiver must reassemble BY MESSAGE ID before it can even inflate.  That
reassembly is the interesting distributed step — a groupBy on message id
with an order-by-sequence fold — and is exactly the shape Spark does well;
everything after (inflate, JSON field extraction) stays per-row.

Datagram classification (first bytes):
- ``1e 0f``   chunked: 8-byte message id, seq, total, then a payload
  slice of the underlying (possibly compressed) document
- ``1f 8b``   gzip document (single datagram)
- ``78 ..``   zlib document (single datagram)
- ``{``       raw JSON document (single datagram)

Incomplete chunk groups (missing datagrams) surface as ``valid = false``
rows with the message id and observed/expected counts — a log pipeline
never drops undecodable input silently (same contract as the syslog and
intake decoders).

Scale shape: one Arrow-batched header-split pass (no shuffle), ONE
groupBy(message id) with ``sort_array(collect_list(struct(seq, part)))``
— partial-aggregated, bounded by 128 parts/message — then an
Arrow-batched assemble+inflate pass and a JVM ``from_json`` projection.
Single-datagram documents bypass the shuffle entirely.
"""

from __future__ import annotations

import gzip as _gzip
import json as _json
import zlib as _zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .decoders import decode_bodies

GELF_FIELDS_DDL = (
    "version string, host string, short_message string, "
    "timestamp double, level long, _facility string"
)


def decode_gelf_datagrams(df: DataFrame, body_col: str = "body") -> DataFrame:
    """Datagram rows (binary ``body_col``) -> one typed row per GELF
    message.  Output: (message_id STRING hex or NULL for single-datagram
    docs, valid BOOLEAN, parts INT, total INT, version, host,
    short_message, timestamp DOUBLE, level LONG, _facility STRING)."""
    import pandas as pd

    def split_headers(body: bytes) -> list[dict]:
        if len(body) >= 12 and body[0] == 0x1E and body[1] == 0x0F:
            return [
                {
                    "message_id": body[2:10].hex(),
                    "seq": body[10],
                    "total": body[11],
                    "part": body[12:],
                }
            ]
        return [{"doc": _inflate_doc(body)}]

    headers = decode_bodies(
        df,
        body_col,
        "message_id string, seq int, total int, part binary, doc string",
        split_headers,
    )

    single = headers.where(F.col("message_id").isNull()).select(
        F.lit(None).cast("string").alias("message_id"),
        F.lit(True).alias("valid"),
        F.lit(1).alias("parts"),
        F.lit(1).alias("total"),
        F.col("doc"),
    )

    grouped = (
        headers.where(F.col("message_id").isNotNull())
        .groupBy("message_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("seq"), F.col("part")))
            ).alias("plist"),
            F.max("total").alias("total"),
            F.count(F.lit(1)).cast("int").alias("parts"),
        )
    )

    assembled_schema = T.StructType(
        [
            T.StructField("message_id", T.StringType()),
            T.StructField("valid", T.BooleanType()),
            T.StructField("parts", T.IntegerType()),
            T.StructField("total", T.IntegerType()),
            T.StructField("doc", T.StringType()),
        ]
    )

    # grouped rows (one per message id), not binary bodies: this pass
    # stays outside decode_bodies
    def assemble(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                parts, total, n = row.plist, int(row.total), int(row.parts)
                seqs = [int(p["seq"]) for p in parts]
                ok = n == total and seqs == list(range(total))
                doc = None
                if ok:
                    blob = b"".join(bytes(p["part"]) for p in parts)
                    doc = _inflate_doc(blob)
                    ok = doc is not None
                out.append(
                    {
                        "message_id": row.message_id,
                        "valid": bool(ok),
                        "parts": n,
                        "total": total,
                        "doc": doc,
                    }
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in assembled_schema.fields]
            )

    chunked = grouped.mapInPandas(assemble, schema=assembled_schema)

    both = single.unionByName(chunked)
    parsed = both.withColumn("_j", F.from_json(F.col("doc"), GELF_FIELDS_DDL))
    return parsed.select(
        "message_id",
        (F.col("valid") & F.col("_j").isNotNull()).alias("valid"),
        "parts",
        "total",
        F.col("_j.version").alias("version"),
        F.col("_j.host").alias("host"),
        F.col("_j.short_message").alias("short_message"),
        F.col("_j.timestamp").alias("timestamp"),
        F.col("_j.level").alias("level"),
        F.col("_j._facility").alias("_facility"),
    )


def _inflate_doc(b: bytes) -> str | None:
    try:
        if len(b) >= 2 and b[0] == 0x1F and b[1] == 0x8B:
            return _gzip.decompress(b).decode("utf-8")
        if len(b) >= 1 and b[0] == 0x78:
            return _zlib.decompress(b).decode("utf-8")
        if len(b) >= 1 and b[0] == ord("{"):
            return b.decode("utf-8")
    except (OSError, _zlib.error, UnicodeDecodeError):
        return None
    return None


def encode_gelf_datagrams(
    messages: list[dict],
    ids: list[bytes],
    chunk_size: int = 0,
    compression: str = "gzip",
) -> list[bytes]:
    """Driver/test-side encoder: canonical-JSON GELF documents -> datagram
    byte strings (chunked iff ``chunk_size`` > 0 and the compressed doc
    exceeds it).  Deterministic: sorted keys, mtime-0 gzip."""
    out = []
    for msg, mid in zip(messages, ids):
        doc = _json.dumps(msg, sort_keys=True, separators=(",", ":")).encode()
        if compression == "gzip":
            blob = _gzip.compress(doc, mtime=0)
        elif compression == "zlib":
            blob = _zlib.compress(doc)
        else:
            blob = doc
        if chunk_size and len(blob) > chunk_size:
            chunks = [
                blob[i : i + chunk_size] for i in range(0, len(blob), chunk_size)
            ]
            if len(chunks) > 128:
                raise ValueError("GELF allows at most 128 chunks per message")
            for seq, part in enumerate(chunks):
                out.append(
                    b"\x1e\x0f" + mid + bytes([seq, len(chunks)]) + part
                )
        else:
            out.append(blob)
    return out


def generate_gelf_bodies(df: DataFrame, chunk_size: int = 24) -> DataFrame:
    """Deterministic gate/test fixture: one GELF message per input row
    (columns ``event_id``, ``user_id``), gzip-compressed and chunked at
    ``chunk_size`` — several datagram rows per message, shuffled apart by
    whatever partitioning follows, so the decoder's reassembly join is
    exercised for real.  Closed form mirrors the oracle SQL."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            bodies: list[bytes] = []
            for eid, uid in zip(pdf["event_id"], pdf["user_id"]):
                i, u = int(eid), int(uid)
                msg = {
                    "version": "1.1",
                    "host": f"h{u % 20}",
                    "short_message": f"msg {i} " + "x" * (i % 40),
                    "timestamp": 1767225600.0 + (i % 86400),
                    "level": i % 8,
                    "_facility": f"f{i % 4}",
                }
                bodies.extend(
                    encode_gelf_datagrams(
                        [msg], [i.to_bytes(8, "big")], chunk_size=chunk_size
                    )
                )
            yield pd.DataFrame({"body": bodies})

    return df.select("event_id", "user_id").mapInPandas(gen, "body binary")
