"""Pure-Python Apache Avro codec — binary encoding + Object Container
Files (public Avro 1.11 specification).

The interchange format half the data-lake ecosystem ships history in
(Kafka topic dumps, Sqoop/NiFi exports, schema-registry payloads): a
collector that can only read parquet leaves those sources stranded.
Implemented from the public spec like the repo's other wire codecs
(snappy_codec.py, protowire.py, msgpack_codec.py) — no avro package in
the container, and the decode hot path runs per body inside
``mapInArrow`` (``sources/decoders.py::decode_bodies``), so a compact
schema-driven Python codec is the right shape.

Coverage:

- **Binary encoding**: null, boolean, int/long (zigzag varint), float/
  double (little-endian IEEE), bytes/string (length-prefixed), record
  (fields in schema order), enum (symbol index), fixed, union (branch
  index + value), array and map (count-prefixed blocks, 0-terminated;
  negative count = abs count + byte-size prefix, both forms decoded).
- **Object Container Files**: ``Obj\\x01`` magic, file-metadata map
  (``avro.schema`` JSON + ``avro.codec``), 16-byte sync marker, data
  blocks of (record count, byte size, payload, sync).  Codecs: null
  and deflate (raw RFC 1951, ``zlib`` with ``wbits=-15``).  A sync
  marker mismatch raises — a torn block must fail loudly, not yield
  shifted garbage.

Schemas are the parsed-JSON dict/list/str form; names are matched on
the unqualified ``name`` (no namespace resolution — the corpora this
decodes declare flat names, documented not silent).
"""

from __future__ import annotations

import json
import struct
import zlib

MAGIC = b"Obj\x01"

_META_SCHEMA = {"type": "map", "values": "bytes"}


# --------------------------------------------------------------------------
# primitive wire helpers
# --------------------------------------------------------------------------

def write_long(out: bytearray, n: int) -> None:
    z = (n << 1) ^ (n >> 63)
    z &= (1 << 64) - 1
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            break


def read_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated avro varint")
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 63:
            raise ValueError("avro varint too long")
    return (acc >> 1) ^ -(acc & 1), pos


# --------------------------------------------------------------------------
# schema-driven value codec
# --------------------------------------------------------------------------

def encode_value(out: bytearray, schema, value) -> None:
    t = schema["type"] if isinstance(schema, dict) else schema
    if isinstance(schema, list):  # union
        for i, branch in enumerate(schema):
            if _union_match(branch, value):
                write_long(out, i)
                encode_value(out, branch, value)
                return
        raise TypeError(f"no union branch for {value!r}")
    if t == "null":
        if value is not None:
            raise TypeError("null schema with non-null value")
    elif t == "boolean":
        out.append(1 if value else 0)
    elif t in ("int", "long"):
        write_long(out, int(value))
    elif t == "float":
        out += struct.pack("<f", float(value))
    elif t == "double":
        out += struct.pack("<d", float(value))
    elif t == "bytes":
        write_long(out, len(value))
        out += bytes(value)
    elif t == "string":
        b = value.encode("utf-8")
        write_long(out, len(b))
        out += b
    elif t == "fixed":
        if len(value) != schema["size"]:
            raise ValueError("fixed size mismatch")
        out += bytes(value)
    elif t == "enum":
        out_idx = schema["symbols"].index(value)
        write_long(out, out_idx)
    elif t == "array":
        if value:
            write_long(out, len(value))
            for item in value:
                encode_value(out, schema["items"], item)
        write_long(out, 0)
    elif t == "map":
        if value:
            write_long(out, len(value))
            for k, v in value.items():
                encode_value(out, "string", k)
                encode_value(out, schema["values"], v)
        write_long(out, 0)
    elif t == "record":
        for f in schema["fields"]:
            encode_value(out, f["type"], value[f["name"]])
    else:
        raise TypeError(f"unsupported avro type {t!r}")


def _union_match(branch, value) -> bool:
    t = branch["type"] if isinstance(branch, dict) else branch
    if t == "null":
        return value is None
    if value is None:
        return False
    if t == "boolean":
        return isinstance(value, bool)
    if t in ("int", "long"):
        return isinstance(value, int) and not isinstance(value, bool)
    if t in ("float", "double"):
        return isinstance(value, float)
    if t in ("bytes", "fixed"):
        return isinstance(value, (bytes, bytearray))
    if t in ("string", "enum"):
        return isinstance(value, str)
    if t == "array":
        return isinstance(value, list)
    if t in ("map", "record"):
        return isinstance(value, dict)
    return False


def decode_value(buf: bytes, pos: int, schema):
    t = schema["type"] if isinstance(schema, dict) else schema
    if isinstance(schema, list):  # union
        idx, pos = read_long(buf, pos)
        if not 0 <= idx < len(schema):
            raise ValueError("union branch out of range")
        return decode_value(buf, pos, schema[idx])
    if t == "null":
        return None, pos
    if t == "boolean":
        return buf[pos] != 0, pos + 1
    if t in ("int", "long"):
        return read_long(buf, pos)
    if t == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if t == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if t in ("bytes", "string"):
        n, pos = read_long(buf, pos)
        if n < 0 or pos + n > len(buf):
            raise ValueError("truncated avro bytes")
        raw = buf[pos : pos + n]
        return (raw.decode("utf-8") if t == "string" else raw), pos + n
    if t == "fixed":
        n = schema["size"]
        if pos + n > len(buf):
            raise ValueError("truncated avro fixed")
        return buf[pos : pos + n], pos + n
    if t == "enum":
        idx, pos = read_long(buf, pos)
        if not 0 <= idx < len(schema["symbols"]):
            raise ValueError("avro enum index out of range")
        return schema["symbols"][idx], pos
    if t == "array":
        out = []
        while True:
            n, pos = read_long(buf, pos)
            if n == 0:
                return out, pos
            if n < 0:  # block with byte-size prefix
                n = -n
                _, pos = read_long(buf, pos)
            for _ in range(n):
                v, pos = decode_value(buf, pos, schema["items"])
                out.append(v)
    if t == "map":
        out = {}
        while True:
            n, pos = read_long(buf, pos)
            if n == 0:
                return out, pos
            if n < 0:
                n = -n
                _, pos = read_long(buf, pos)
            for _ in range(n):
                k, pos = decode_value(buf, pos, "string")
                v, pos = decode_value(buf, pos, schema["values"])
                out[k] = v
    if t == "record":
        rec = {}
        for f in schema["fields"]:
            rec[f["name"]], pos = decode_value(buf, pos, f["type"])
        return rec, pos
    raise TypeError(f"unsupported avro type {t!r}")


# --------------------------------------------------------------------------
# Object Container Files
# --------------------------------------------------------------------------

def write_container(
    schema: dict,
    records: list,
    sync: bytes,
    codec: str = "null",
    block_records: int = 100,
) -> bytes:
    """One OCF blob: header + data blocks of ``block_records`` records.
    ``sync`` must be 16 caller-chosen bytes (deterministic fixtures pass
    a hash-derived marker, never randomness)."""
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    out = bytearray(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    encode_value(out, _META_SCHEMA, meta)
    out += sync
    for start in range(0, len(records), block_records):
        chunk = records[start : start + block_records]
        body = bytearray()
        for rec in chunk:
            encode_value(body, schema, rec)
        payload = bytes(body)
        if codec == "deflate":
            co = zlib.compressobj(9, zlib.DEFLATED, -15)
            payload = co.compress(payload) + co.flush()
        write_long(out, len(chunk))
        write_long(out, len(payload))
        out += payload
        out += sync
    return bytes(out)


def read_container(blob: bytes) -> tuple[dict, list]:
    """Decode one OCF blob -> (metadata-derived schema, records)."""
    if blob[:4] != MAGIC:
        raise ValueError("not an avro object container file")
    meta, pos = decode_value(blob, 4, _META_SCHEMA)
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    sync = blob[pos : pos + 16]
    pos += 16
    records = []
    while pos < len(blob):
        n, pos = read_long(blob, pos)
        size, pos = read_long(blob, pos)
        if size < 0 or pos + size + 16 > len(blob):
            raise ValueError("truncated avro block")
        payload = blob[pos : pos + size]
        pos += size
        if blob[pos : pos + 16] != sync:
            raise ValueError("avro sync marker mismatch")
        pos += 16
        if codec == "deflate":
            payload = zlib.decompress(payload, -15)
        bpos = 0
        for _ in range(n):
            rec, bpos = decode_value(payload, bpos, schema)
            records.append(rec)
        if bpos != len(payload):
            raise ValueError("avro block has trailing bytes")
    return schema, records


# --------------------------------------------------------------------------
# Schema resolution (Avro spec "Schema Resolution"): read data written
# with the WRITER schema through a (possibly newer) READER schema — the
# evolution semantics every long-lived topic dump depends on.
# --------------------------------------------------------------------------

_PROMOTIONS = {
    "int": {"int", "long", "float", "double"},
    "long": {"long", "float", "double"},
    "float": {"float", "double"},
    "double": {"double"},
    "string": {"string", "bytes"},
    "bytes": {"bytes", "string"},
}


def _type_name(schema) -> str:
    return schema["type"] if isinstance(schema, dict) else schema


def skip_value(buf: bytes, pos: int, schema) -> int:
    """Advance past one value of ``schema`` without materializing it —
    how removed writer fields are consumed during resolution."""
    _, pos = decode_value(buf, pos, schema)
    return pos


def _default_value(field, schema):
    if "default" not in field:
        raise ValueError(
            f"reader field {field['name']!r} absent from writer schema"
            " and has no default"
        )
    d = field["default"]
    t = _type_name(schema if not isinstance(schema, list) else schema[0])
    if t == "bytes" and isinstance(d, str):
        return d.encode("latin-1")  # spec: bytes defaults are unicode-escaped
    if t == "float" or t == "double":
        return float(d)
    return d


def resolve_read(buf: bytes, pos: int, writer, reader):
    """Decode one value written as ``writer`` through ``reader`` —
    promotions (int→long→float→double, string↔bytes), record field
    matching by name with writer-only fields skipped and reader-only
    fields defaulted, enum symbol resolution with reader default for
    unknown symbols, and union-branch re-resolution."""
    if isinstance(writer, list):  # writer union: branch then re-resolve
        idx, pos = read_long(buf, pos)
        if not 0 <= idx < len(writer):
            raise ValueError("union branch out of range")
        return resolve_read(buf, pos, writer[idx], reader)
    if isinstance(reader, list):  # reader union: first matching branch
        wt = _type_name(writer)
        wname = writer.get("name") if isinstance(writer, dict) else None
        for br in reader:
            bt = _type_name(br)
            if bt == wt:
                # named types (record/enum/fixed) must match by NAME —
                # keyword equality alone would pick the first record
                # branch and decode through the wrong field list
                if wt in ("record", "enum", "fixed"):
                    if isinstance(br, dict) and br.get("name") == wname:
                        return resolve_read(buf, pos, writer, br)
                    continue
                return resolve_read(buf, pos, writer, br)
            if bt in _PROMOTIONS.get(wt, ()):
                return resolve_read(buf, pos, writer, br)
        raise ValueError(f"writer type {wt!r} matches no reader union branch")
    wt, rt = _type_name(writer), _type_name(reader)
    if wt in _PROMOTIONS and rt in _PROMOTIONS:
        if rt not in _PROMOTIONS[wt]:
            raise ValueError(f"cannot promote writer {wt!r} to reader {rt!r}")
        v, pos = decode_value(buf, pos, writer)
        if rt in ("float", "double") and isinstance(v, int):
            v = float(v)
        elif rt == "bytes" and isinstance(v, str):
            v = v.encode("utf-8")
        elif rt == "string" and isinstance(v, (bytes, bytearray)):
            v = bytes(v).decode("utf-8")
        return v, pos
    if wt != rt:
        raise ValueError(f"writer type {wt!r} incompatible with reader {rt!r}")
    if wt in ("null", "boolean", "fixed"):
        return decode_value(buf, pos, writer)
    if wt == "enum":
        idx, pos = read_long(buf, pos)
        symbols = writer["symbols"]
        if not 0 <= idx < len(symbols):
            raise ValueError("avro enum index out of range")
        sym = symbols[idx]
        if sym in reader["symbols"]:
            return sym, pos
        if "default" in reader:
            return reader["default"], pos
        raise ValueError(f"enum symbol {sym!r} unknown to reader, no default")
    if wt == "array":
        out = []
        while True:
            n, pos = read_long(buf, pos)
            if n == 0:
                return out, pos
            if n < 0:
                n = -n
                _, pos = read_long(buf, pos)
            for _ in range(n):
                v, pos = resolve_read(buf, pos, writer["items"], reader["items"])
                out.append(v)
    if wt == "map":
        out = {}
        while True:
            n, pos = read_long(buf, pos)
            if n == 0:
                return out, pos
            if n < 0:
                n = -n
                _, pos = read_long(buf, pos)
            for _ in range(n):
                k, pos = decode_value(buf, pos, "string")
                v, pos = resolve_read(buf, pos, writer["values"], reader["values"])
                out[k] = v
    if wt == "record":
        by_name = {f["name"]: f for f in reader["fields"]}
        rec = {}
        for wf in writer["fields"]:
            rf = by_name.get(wf["name"])
            if rf is None:
                pos = skip_value(buf, pos, wf["type"])  # removed field
            else:
                rec[rf["name"]], pos = resolve_read(
                    buf, pos, wf["type"], rf["type"]
                )
        writer_names = {f["name"] for f in writer["fields"]}
        for rf in reader["fields"]:
            if rf["name"] not in writer_names:
                rec[rf["name"]] = _default_value(rf, rf["type"])
        return rec, pos
    raise TypeError(f"unsupported avro type {wt!r}")


def read_container_resolved(blob: bytes, reader_schema: dict):
    """Object Container File decode through a reader schema: the file's
    embedded schema is the writer; every record resolves against
    ``reader_schema``.  Returns (meta, records) like read_container."""
    if blob[:4] != MAGIC:
        raise ValueError("not an avro object container file")
    pos = 4
    md, pos = decode_value(blob, pos, _META_SCHEMA)
    sync = blob[pos : pos + 16]
    pos += 16
    writer = json.loads(md["avro.schema"].decode("utf-8"))
    codec = md.get("avro.codec", b"null").decode("utf-8")
    records = []
    while pos < len(blob):
        n, pos = read_long(blob, pos)
        size, pos = read_long(blob, pos)
        payload = blob[pos : pos + size]
        pos += size
        if blob[pos : pos + 16] != sync:
            raise ValueError("avro sync marker mismatch (torn block)")
        pos += 16
        if codec == "deflate":
            payload = zlib.decompress(payload, wbits=-15)
        elif codec != "null":
            raise ValueError(f"unsupported avro codec {codec!r}")
        p = 0
        for _ in range(n):
            v, p = resolve_read(payload, p, writer, reader_schema)
            records.append(v)
        if p != len(payload):  # same torn-block strictness as read_container
            raise ValueError("avro block has trailing bytes")
    return {"schema": writer, "codec": codec}, records
