"""Pure-Python MessagePack codec (public spec: msgpack.org format spec).

The serialization the Fluentd forward protocol rides on — the last
log-shipping wire the transport matrix lacked (OTLP json+protobuf, PRW
protobuf+snappy, syslog, GELF, CEF, statsd, prometheus text, logfmt,
beats csv/json/text are already in).  Implemented from the public spec
like the repo's other codecs (snappy_codec.py, protowire.py,
media_codec.py): no third-party msgpack package in the container, and
the hot path runs per body inside ``mapInArrow``
(``sources/decoders.py::decode_bodies``), so a compact
bytes-in/objects-out Python codec is the right shape.

Coverage: nil, booleans, all int widths (fixint, uint8-64, int8-64),
float32/64, str (fixstr, str8/16/32), bin8/16/32, arrays (fixarray,
array16/32), maps (fixmap, map16/32), and ext (fixext1/2/4/8/16,
ext8/16/32) — ext type 0 is Fluentd's EventTime (big-endian u32 sec +
u32 nsec), helpers below.  Packing ints chooses the smallest unsigned
(or signed, when negative) encoding, strings UTF-8, floats float64 —
the canonical choices of the reference msgpack packers.
"""

from __future__ import annotations

import struct
from typing import NamedTuple


class Ext(NamedTuple):
    """An ext-format value: application type code + payload bytes."""

    code: int
    data: bytes


def event_time(sec: int, nsec: int = 0) -> Ext:
    """Fluentd EventTime (forward protocol spec): fixext8, type 0."""
    return Ext(0, struct.pack(">II", sec, nsec))


def ext_to_time(e: Ext) -> tuple[int, int]:
    if e.code != 0 or len(e.data) != 8:
        raise ValueError("not an EventTime ext")
    sec, nsec = struct.unpack(">II", e.data)
    return sec, nsec


def pack(o) -> bytes:
    out = bytearray()
    _pack_into(out, o)
    return bytes(out)


def _pack_into(out: bytearray, o) -> None:
    if o is None:
        out.append(0xC0)
    elif o is True:
        out.append(0xC3)
    elif o is False:
        out.append(0xC2)
    elif isinstance(o, int):
        _pack_int(out, o)
    elif isinstance(o, float):
        out.append(0xCB)
        out += struct.pack(">d", o)
    elif isinstance(o, str):
        b = o.encode("utf-8")
        n = len(b)
        if n < 32:
            out.append(0xA0 | n)
        elif n < 0x100:
            out += bytes((0xD9, n))
        elif n < 0x10000:
            out.append(0xDA)
            out += struct.pack(">H", n)
        else:
            out.append(0xDB)
            out += struct.pack(">I", n)
        out += b
    elif isinstance(o, (bytes, bytearray, memoryview)):
        b = bytes(o)
        n = len(b)
        if n < 0x100:
            out += bytes((0xC4, n))
        elif n < 0x10000:
            out.append(0xC5)
            out += struct.pack(">H", n)
        else:
            out.append(0xC6)
            out += struct.pack(">I", n)
        out += b
    elif isinstance(o, Ext):
        _pack_ext(out, o)
    elif isinstance(o, (list, tuple)):
        n = len(o)
        if n < 16:
            out.append(0x90 | n)
        elif n < 0x10000:
            out.append(0xDC)
            out += struct.pack(">H", n)
        else:
            out.append(0xDD)
            out += struct.pack(">I", n)
        for item in o:
            _pack_into(out, item)
    elif isinstance(o, dict):
        n = len(o)
        if n < 16:
            out.append(0x80 | n)
        elif n < 0x10000:
            out.append(0xDE)
            out += struct.pack(">H", n)
        else:
            out.append(0xDF)
            out += struct.pack(">I", n)
        for k, v in o.items():
            _pack_into(out, k)
            _pack_into(out, v)
    else:
        raise TypeError(f"cannot msgpack {type(o).__name__}")


def _pack_int(out: bytearray, n: int) -> None:
    if n >= 0:
        if n < 0x80:
            out.append(n)
        elif n < 0x100:
            out += bytes((0xCC, n))
        elif n < 0x10000:
            out.append(0xCD)
            out += struct.pack(">H", n)
        elif n < 0x100000000:
            out.append(0xCE)
            out += struct.pack(">I", n)
        elif n < 0x10000000000000000:
            out.append(0xCF)
            out += struct.pack(">Q", n)
        else:
            raise OverflowError("msgpack int too large")
    else:
        if n >= -32:
            out.append(n & 0xFF)
        elif n >= -0x80:
            out.append(0xD0)
            out += struct.pack(">b", n)
        elif n >= -0x8000:
            out.append(0xD1)
            out += struct.pack(">h", n)
        elif n >= -0x80000000:
            out.append(0xD2)
            out += struct.pack(">i", n)
        elif n >= -0x8000000000000000:
            out.append(0xD3)
            out += struct.pack(">q", n)
        else:
            raise OverflowError("msgpack int too small")


_EXT_FIX = {1: 0xD4, 2: 0xD5, 4: 0xD6, 8: 0xD7, 16: 0xD8}


def _pack_ext(out: bytearray, e: Ext) -> None:
    n = len(e.data)
    fix = _EXT_FIX.get(n)
    if fix is not None:
        out.append(fix)
    elif n < 0x100:
        out += bytes((0xC7, n))
    elif n < 0x10000:
        out.append(0xC8)
        out += struct.pack(">H", n)
    else:
        out.append(0xC9)
        out += struct.pack(">I", n)
    out += struct.pack(">b", e.code)
    out += e.data


def unpack(buf: bytes):
    """Decode ONE msgpack value; raises if trailing bytes remain."""
    o, pos = _unpack_one(buf, 0)
    if pos != len(buf):
        raise ValueError(f"trailing bytes after msgpack value at {pos}")
    return o


def unpack_stream(buf: bytes) -> list:
    """Decode a concatenation of msgpack values (PackedForward entries)."""
    out = []
    pos = 0
    while pos < len(buf):
        o, pos = _unpack_one(buf, pos)
        out.append(o)
    return out


def _take(buf: bytes, pos: int, n: int) -> tuple[bytes, int]:
    if pos + n > len(buf):
        raise ValueError("truncated msgpack data")
    return buf[pos : pos + n], pos + n


def _unpack_one(buf: bytes, pos: int):
    if pos >= len(buf):
        raise ValueError("truncated msgpack data")
    b = buf[pos]
    pos += 1
    if b < 0x80:
        return b, pos
    if b >= 0xE0:
        return b - 0x100, pos
    if 0x80 <= b <= 0x8F:
        return _unpack_map(buf, pos, b & 0x0F)
    if 0x90 <= b <= 0x9F:
        return _unpack_array(buf, pos, b & 0x0F)
    if 0xA0 <= b <= 0xBF:
        raw, pos = _take(buf, pos, b & 0x1F)
        return raw.decode("utf-8"), pos
    if b == 0xC0:
        return None, pos
    if b == 0xC2:
        return False, pos
    if b == 0xC3:
        return True, pos
    if b in (0xC4, 0xC5, 0xC6):
        width = {0xC4: 1, 0xC5: 2, 0xC6: 4}[b]
        raw, pos = _take(buf, pos, width)
        n = int.from_bytes(raw, "big")
        return _take(buf, pos, n)
    if b in (0xC7, 0xC8, 0xC9):
        width = {0xC7: 1, 0xC8: 2, 0xC9: 4}[b]
        raw, pos = _take(buf, pos, width)
        n = int.from_bytes(raw, "big")
        code_raw, pos = _take(buf, pos, 1)
        data, pos = _take(buf, pos, n)
        return Ext(struct.unpack(">b", code_raw)[0], data), pos
    if b == 0xCA:
        raw, pos = _take(buf, pos, 4)
        return struct.unpack(">f", raw)[0], pos
    if b == 0xCB:
        raw, pos = _take(buf, pos, 8)
        return struct.unpack(">d", raw)[0], pos
    if b in (0xCC, 0xCD, 0xCE, 0xCF):
        width = {0xCC: 1, 0xCD: 2, 0xCE: 4, 0xCF: 8}[b]
        raw, pos = _take(buf, pos, width)
        return int.from_bytes(raw, "big"), pos
    if b in (0xD0, 0xD1, 0xD2, 0xD3):
        width = {0xD0: 1, 0xD1: 2, 0xD2: 4, 0xD3: 8}[b]
        raw, pos = _take(buf, pos, width)
        return int.from_bytes(raw, "big", signed=True), pos
    if b in (0xD4, 0xD5, 0xD6, 0xD7, 0xD8):
        n = {0xD4: 1, 0xD5: 2, 0xD6: 4, 0xD7: 8, 0xD8: 16}[b]
        code_raw, pos = _take(buf, pos, 1)
        data, pos = _take(buf, pos, n)
        return Ext(struct.unpack(">b", code_raw)[0], data), pos
    if b in (0xD9, 0xDA, 0xDB):
        width = {0xD9: 1, 0xDA: 2, 0xDB: 4}[b]
        raw, pos = _take(buf, pos, width)
        n = int.from_bytes(raw, "big")
        raw, pos = _take(buf, pos, n)
        return raw.decode("utf-8"), pos
    if b in (0xDC, 0xDD):
        raw, pos = _take(buf, pos, 2 if b == 0xDC else 4)
        return _unpack_array(buf, pos, int.from_bytes(raw, "big"))
    if b in (0xDE, 0xDF):
        raw, pos = _take(buf, pos, 2 if b == 0xDE else 4)
        return _unpack_map(buf, pos, int.from_bytes(raw, "big"))
    raise ValueError(f"unknown msgpack type byte 0x{b:02x}")


def _unpack_array(buf: bytes, pos: int, n: int):
    out = []
    for _ in range(n):
        o, pos = _unpack_one(buf, pos)
        out.append(o)
    return out, pos


def _unpack_map(buf: bytes, pos: int, n: int):
    out = {}
    for _ in range(n):
        k, pos = _unpack_one(buf, pos)
        v, pos = _unpack_one(buf, pos)
        out[k] = v
    return out, pos
