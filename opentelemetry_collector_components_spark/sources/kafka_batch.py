"""Kafka RecordBatch v2 (magic 2) — segment/topic-dump decode.

Log pipelines constantly inherit raw Kafka data — topic dumps, tiered-
storage segments, `kafka-dump-log` output — and the unit inside every
segment file is the RecordBatch v2 wire (public Kafka protocol docs,
"Record Batch" / KIP-98): a big-endian header

    baseOffset i64 · batchLength i32 · partitionLeaderEpoch i32 ·
    magic i8 (=2) · crc u32 (CRC32C of everything AFTER the crc field) ·
    attributes i16 (bits 0-2 codec, 3 ts-type, 4 transactional,
    5 control) · lastOffsetDelta i32 · baseTimestamp i64 ·
    maxTimestamp i64 · producerId i64 · producerEpoch i16 ·
    baseSequence i32 · recordsCount i32

followed by the records section (compressed per the codec bits), each
record zigzag-varint framed:

    length · attributes i8 · timestampDelta · offsetDelta ·
    keyLen (-1 = null) + key · valueLen (-1 = null) + value ·
    headersCount · [headerKeyLen + key · headerValLen (-1 null) + val]

Codecs here: none(0), gzip(1, stdlib), snappy(2 — the Java client's
xerial block framing, ``\\x82SNAPPY\\x00`` magic + length-prefixed raw
snappy chunks, unwrapped over ``functions/snappy_codec.py``; bare raw
snappy also accepted).  lz4(3)/zstd(4) raise — no frame codec in the
container, documented not silent.  CRC32C (Castagnoli, reflected
0x82F63B78) is VERIFIED on decode — a torn batch yields one
``valid = false`` row rather than shifted garbage rows.

Scale shape mirrors the forward/avro/jaeger intakes: one batch per
(shard) group packed in applyInPandas; decode per body through
``sources/decoders.py::decode_bodies`` — no shuffle.
"""

from __future__ import annotations

import gzip
import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decoders import decode_bodies

_XERIAL_MAGIC = b"\x82SNAPPY\x00"


def _crc32c_table() -> list[int]:
    poly = 0x82F63B78
    table = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ poly if c & 1 else c >> 1
        table.append(c)
    return table


_TABLE = _crc32c_table()


def crc32c(data: bytes) -> int:
    c = 0xFFFFFFFF
    for b in data:
        c = _TABLE[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def _write_varlong(out: bytearray, n: int) -> None:
    z = ((n << 1) ^ (n >> 63)) & ((1 << 64) - 1)
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_varlong(buf: bytes, pos: int) -> tuple[int, int]:
    shift = acc = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated kafka varint")
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return (acc >> 1) ^ -(acc & 1), pos
        shift += 7
        if shift > 63:
            raise ValueError("kafka varint too long")


def _encode_record(
    ts_delta: int, offset_delta: int, key: bytes | None,
    value: bytes | None, headers: list[tuple[str, bytes | None]],
) -> bytes:
    body = bytearray()
    body.append(0)  # record attributes (unused by the protocol today)
    _write_varlong(body, ts_delta)
    _write_varlong(body, offset_delta)
    for blob in (key, value):
        if blob is None:
            _write_varlong(body, -1)
        else:
            _write_varlong(body, len(blob))
            body += blob
    _write_varlong(body, len(headers))
    for hk, hv in headers:
        kb = hk.encode()
        _write_varlong(body, len(kb))
        body += kb
        if hv is None:
            _write_varlong(body, -1)
        else:
            _write_varlong(body, len(hv))
            body += hv
    out = bytearray()
    _write_varlong(out, len(body))
    out += body
    return bytes(out)


def encode_record_batch(
    base_offset: int,
    base_timestamp_ms: int,
    records: list[dict],
    codec: str = "none",
) -> bytes:
    """records: [{"ts_ms", "key" (bytes|None), "value" (bytes|None),
    "headers": [(str, bytes|None)]}] — offsets are assigned densely."""
    payload = bytearray()
    max_ts = base_timestamp_ms
    for i, r in enumerate(records):
        max_ts = max(max_ts, r["ts_ms"])
        payload += _encode_record(
            r["ts_ms"] - base_timestamp_ms, i, r.get("key"),
            r.get("value"), r.get("headers", []),
        )
    attrs = {"none": 0, "gzip": 1, "snappy": 2}.get(codec)
    if attrs is None:
        raise ValueError(f"unsupported codec {codec!r}")
    body = bytes(payload)
    if codec == "gzip":
        body = gzip.compress(body, mtime=0)
    elif codec == "snappy":
        from ..functions.snappy_codec import snappy_compress

        raw = snappy_compress(body)
        body = (
            _XERIAL_MAGIC
            + struct.pack(">ii", 1, 1)  # xerial version/compat
            + struct.pack(">i", len(raw))
            + raw
        )
    after_crc = struct.pack(
        ">hiqqqhii",
        attrs,
        len(records) - 1,          # lastOffsetDelta
        base_timestamp_ms,
        max_ts,
        -1, -1, -1,                # producerId/Epoch/baseSequence (idempotence off)
        len(records),
    ) + body
    crc = crc32c(after_crc)
    head = struct.pack(">qiib", base_offset, 0, 0, 2)
    batch = bytearray(head)
    batch += struct.pack(">I", crc)
    batch += after_crc
    # batchLength = bytes after the batchLength field itself
    struct.pack_into(">i", batch, 8, len(batch) - 12)
    return bytes(batch)


def decode_record_batch(buf: bytes) -> dict:
    """One batch -> {"base_offset", "codec", "records": [...]}; CRC and
    magic are verified, truncation raises."""
    if len(buf) < 61:
        raise ValueError("truncated kafka batch header")
    base_offset, batch_len, _epoch, magic = struct.unpack_from(">qiib", buf, 0)
    if magic != 2:
        raise ValueError(f"unsupported kafka magic {magic}")
    if 12 + batch_len != len(buf):
        raise ValueError("kafka batchLength mismatch")
    (crc,) = struct.unpack_from(">I", buf, 17)
    after = buf[21:]
    if crc32c(after) != crc:
        raise ValueError("kafka batch CRC32C mismatch")
    attrs, last_delta, base_ts, _max_ts, _pid, _pep, _seq, count = struct.unpack_from(
        ">hiqqqhii", after, 0
    )
    codec_id = attrs & 0x07
    codec = {0: "none", 1: "gzip", 2: "snappy"}.get(codec_id)
    if codec is None:
        raise ValueError(f"unsupported kafka codec id {codec_id}")
    body = after[40:]  # >hiqqqhii = 2+4+8+8+8+2+4+4 bytes
    if codec == "gzip":
        body = gzip.decompress(body)
    elif codec == "snappy":
        from ..functions.snappy_codec import snappy_decompress

        if body.startswith(_XERIAL_MAGIC):
            pos = len(_XERIAL_MAGIC) + 8
            chunks = []
            while pos < len(body):
                (ln,) = struct.unpack_from(">i", body, pos)
                pos += 4
                chunks.append(snappy_decompress(body[pos : pos + ln]))
                pos += ln
            body = b"".join(chunks)
        else:
            body = snappy_decompress(body)
    records = []
    pos = 0
    for _ in range(count):
        rlen, pos = _read_varlong(body, pos)
        end = pos + rlen
        if end > len(body):
            raise ValueError("truncated kafka record")
        pos += 1  # record attributes
        ts_delta, pos = _read_varlong(body, pos)
        off_delta, pos = _read_varlong(body, pos)
        vals = []
        for _ in range(2):  # key, value
            n, pos = _read_varlong(body, pos)
            if n < 0:
                vals.append(None)
            else:
                vals.append(body[pos : pos + n])
                pos += n
        nh, pos = _read_varlong(body, pos)
        headers = []
        for _ in range(nh):
            n, pos = _read_varlong(body, pos)
            hk = body[pos : pos + n].decode()
            pos += n
            n, pos = _read_varlong(body, pos)
            if n < 0:
                headers.append((hk, None))
            else:
                headers.append((hk, body[pos : pos + n]))
                pos += n
        if pos != end:
            raise ValueError("kafka record length mismatch")
        records.append(
            {
                "offset": base_offset + off_delta,
                "ts_ms": base_ts + ts_delta,
                "key": vals[0],
                "value": vals[1],
                "headers": headers,
            }
        )
    if pos != len(body):
        raise ValueError("trailing bytes after kafka records")
    return {"base_offset": base_offset, "codec": codec, "records": records}


def generate_kafka_batches(events: DataFrame, shards: int = 6) -> DataFrame:
    """Render events as deterministic RecordBatches, one per shard
    (= event_id % shards), codec cycling none/gzip/snappy by shard % 3.
    Record: key = user_id utf8, value = "<eid>:<vm>" utf8 (vm =
    round(value*100)), header etype = event_type; ts = unix millis;
    base_offset = shard * 10^9.  Emits ``(shard, body binary)``."""
    import pandas as pd

    prepared = events.select(
        (F.col("event_id") % shards).alias("shard"),
        F.col("event_id").alias("eid"),
        F.col("user_id").alias("uid"),
        F.col("event_type").alias("etype"),
        F.round(F.col("value") * 100).cast("long").alias("vm"),
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1000)
        .cast("long")
        .alias("ms"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("eid")
        shard = int(pdf["shard"].iloc[0])
        recs = [
            {
                "ts_ms": int(ms),
                "key": str(int(uid)).encode(),
                "value": f"{int(eid)}:{int(vm)}".encode(),
                "headers": [("etype", str(et).encode())],
            }
            for eid, uid, et, vm, ms in zip(
                pdf["eid"], pdf["uid"], pdf["etype"], pdf["vm"], pdf["ms"]
            )
        ]
        body = encode_record_batch(
            base_offset=shard * 10**9,
            base_timestamp_ms=int(pdf["ms"].min()),
            records=recs,
            codec=("none", "gzip", "snappy")[shard % 3],
        )
        return pd.DataFrame({"shard": [shard], "body": [body]})

    return prepared.groupBy("shard").applyInPandas(
        _pack, schema="shard long, body binary"
    )


def decode_kafka_batches(df: DataFrame, body_col: str = "body") -> DataFrame:
    """Decode RecordBatch blobs into one row per record: ``(offset,
    ts_ms, key, value, headers map<string,string>, codec, valid)`` —
    key/value as strings (utf-8 with replacement; binary consumers
    re-encode), torn batches (CRC/magic/framing) -> one valid=false
    row."""

    def _dec(b: bytes | None) -> str | None:
        return None if b is None else b.decode("utf-8", "replace")

    def _records(body: bytes):
        batch = decode_record_batch(body)
        for r in batch["records"]:
            yield {
                "offset": r["offset"],
                "ts_ms": r["ts_ms"],
                "key": _dec(r["key"]),
                "value": _dec(r["value"]),
                "headers": {k: _dec(v) for k, v in r["headers"]},
                "codec": batch["codec"],
                "valid": True,
            }

    return decode_bodies(
        df,
        body_col,
        "offset long, ts_ms long, key string, value string, "
        "headers map<string, string>, codec string, valid boolean",
        _records,
        (ValueError, TypeError, IndexError, struct.error, EOFError, OSError,
         zlib.error, UnicodeDecodeError),
    )
