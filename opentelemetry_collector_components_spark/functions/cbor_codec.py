"""Pure-Python CBOR codec — RFC 8949.

The IETF's standard binary JSON (COSE, CWT, WebAuthn payloads, CoAP /
IoT telemetry — the low-power cousin of the fluentd-msgpack world this
repo already decodes).  Implemented from the public RFC like the other
wire codecs (``msgpack_codec.py``, ``protowire.py``): no cbor package in
the container; the decode hot path runs per body inside ``mapInArrow``
(``sources/decoders.py::decode_bodies``).

Wire model (RFC 8949 §3): one initial byte = (major type << 5) | short
count; counts 0..23 inline, 24/25/26/27 = 1/2/4/8-byte big-endian
argument, 31 = indefinite length (arrays/maps/strings terminated by the
0xFF break).  Major types: 0 uint, 1 negint (-1 - n), 2 bytes, 3 utf8
text, 4 array, 5 map, 6 tag (kept as ``Tag(tag, value)``), 7 simple /
float (half/single/double precision, false/true/null/undefined).

Encoding is canonical per §4.2.1: shortest-form integer arguments,
definite lengths, floats as the shortest width that round-trips
(half → single → double), map keys in bytewise-lexicographic order of
their encodings.  Decode accepts non-canonical input (long forms,
indefinite lengths) — be liberal on intake, strict on emit.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass


@dataclass(frozen=True)
class Tag:
    tag: int
    value: object


_BREAK = object()


def _encode_head(out: bytearray, major: int, n: int) -> None:
    if n < 24:
        out.append((major << 5) | n)
    elif n < 1 << 8:
        out.append((major << 5) | 24)
        out.append(n)
    elif n < 1 << 16:
        out.append((major << 5) | 25)
        out += n.to_bytes(2, "big")
    elif n < 1 << 32:
        out.append((major << 5) | 26)
        out += n.to_bytes(4, "big")
    elif n < 1 << 64:
        out.append((major << 5) | 27)
        out += n.to_bytes(8, "big")
    else:
        raise ValueError("cbor integer argument exceeds 64 bits")


def _encode_float(out: bytearray, v: float) -> None:
    # shortest width that round-trips exactly (canonical §4.2.1)
    if math.isnan(v):
        out += b"\xf9\x7e\x00"  # canonical NaN
        return
    h = struct.pack(">e", v) if abs(v) <= 65504 or math.isinf(v) else None
    if h is not None and struct.unpack(">e", h)[0] == v:
        out += b"\xf9" + h
        return
    try:
        s = struct.pack(">f", v)
    except OverflowError:  # exceeds float32 range entirely
        s = None
    if s is not None and struct.unpack(">f", s)[0] == v:
        out += b"\xfa" + s
        return
    out += b"\xfb" + struct.pack(">d", v)


def encode(value) -> bytes:
    out = bytearray()
    _enc(out, value)
    return bytes(out)


def _enc(out: bytearray, v) -> None:
    if v is None:
        out.append(0xF6)
    elif isinstance(v, bool):
        out.append(0xF5 if v else 0xF4)
    elif isinstance(v, int):
        if v >= 0:
            _encode_head(out, 0, v)
        else:
            _encode_head(out, 1, -1 - v)
    elif isinstance(v, float):
        _encode_float(out, v)
    elif isinstance(v, (bytes, bytearray)):
        _encode_head(out, 2, len(v))
        out += v
    elif isinstance(v, str):
        b = v.encode("utf-8")
        _encode_head(out, 3, len(b))
        out += b
    elif isinstance(v, (list, tuple)):
        _encode_head(out, 4, len(v))
        for item in v:
            _enc(out, item)
    elif isinstance(v, dict):
        _encode_head(out, 5, len(v))
        enc_items = []
        for k, val in v.items():
            kb = bytearray()
            _enc(kb, k)
            enc_items.append((bytes(kb), val))
        for kb, val in sorted(enc_items, key=lambda t: t[0]):  # §4.2.1 order
            out += kb
            _enc(out, val)
    elif isinstance(v, Tag):
        _encode_head(out, 6, v.tag)
        _enc(out, v.value)
    else:
        raise TypeError(f"cannot cbor-encode {type(v).__name__}")


def _read_head(buf: bytes, pos: int) -> tuple[int, int, int | None, int]:
    """(major, info, argument or None-for-indefinite, new pos)."""
    if pos >= len(buf):
        raise ValueError("truncated cbor item")
    b = buf[pos]
    major, info = b >> 5, b & 0x1F
    pos += 1
    if info < 24:
        return major, info, info, pos
    if info in (24, 25, 26, 27):
        n = 1 << (info - 24)
        if pos + n > len(buf):
            raise ValueError("truncated cbor argument")
        return major, info, int.from_bytes(buf[pos : pos + n], "big"), pos + n
    if info == 31:
        return major, info, None, pos
    raise ValueError(f"reserved cbor additional info {info}")


def decode(buf: bytes) -> object:
    v, pos = _dec(buf, 0)
    if v is _BREAK:
        raise ValueError("unexpected cbor break")
    if pos != len(buf):
        raise ValueError(f"{len(buf) - pos} trailing bytes after cbor item")
    return v


def decode_prefix(buf: bytes, pos: int = 0):
    """(value, new pos) — for streams of back-to-back items."""
    v, pos = _dec(buf, pos)
    if v is _BREAK:
        raise ValueError("unexpected cbor break")
    return v, pos


def _dec(buf: bytes, pos: int):
    major, info, arg, pos = _read_head(buf, pos)
    if major == 0:
        return arg, pos
    if major == 1:
        return -1 - arg, pos
    if major in (2, 3):
        if arg is None:  # indefinite: definite chunks until break
            parts = []
            while True:
                m2, i2, a2, pos = _read_head(buf, pos)
                if m2 == 7 and i2 == 31:
                    break
                if m2 != major or a2 is None:
                    raise ValueError("mixed chunk types in indefinite string")
                parts.append(buf[pos : pos + a2])
                pos += a2
            raw = b"".join(parts)
        else:
            if pos + arg > len(buf):
                raise ValueError("truncated cbor string")
            raw = buf[pos : pos + arg]
            pos += arg
        return (raw.decode("utf-8") if major == 3 else raw), pos
    if major == 4:
        out = []
        if arg is None:
            while True:
                v, pos = _dec(buf, pos)
                if v is _BREAK:
                    return out, pos
                out.append(v)
        for _ in range(arg):
            v, pos = _dec(buf, pos)
            if v is _BREAK:
                raise ValueError("break inside definite array")
            out.append(v)
        return out, pos
    if major == 5:
        d = {}
        if arg is None:
            while True:
                k, pos = _dec(buf, pos)
                if k is _BREAK:
                    return d, pos
                v, pos = _dec(buf, pos)
                if v is _BREAK:
                    raise ValueError("break as map value")
                d[k] = v
        for _ in range(arg):
            k, pos = _dec(buf, pos)
            v, pos = _dec(buf, pos)
            if k is _BREAK or v is _BREAK:
                raise ValueError("break inside definite map")
            d[k] = v
        return d, pos
    if major == 6:
        v, pos = _dec(buf, pos)
        if v is _BREAK:
            raise ValueError("break as tag content")
        return Tag(arg, v), pos
    # major 7: simple values, floats, break — dispatch on the HEAD INFO
    # (the argument alone is ambiguous: float bit patterns are ints too)
    if info == 31:
        return _BREAK, pos
    if info == 20:
        return False, pos
    if info == 21:
        return True, pos
    if info in (22, 23):  # null; undefined -> None (documented folding)
        return None, pos
    if info == 25:
        return struct.unpack(">e", arg.to_bytes(2, "big"))[0], pos
    if info == 26:
        return struct.unpack(">f", arg.to_bytes(4, "big"))[0], pos
    if info == 27:
        return struct.unpack(">d", arg.to_bytes(8, "big"))[0], pos
    return arg, pos  # simple values 0..19 and 32..255 (info 24)
