"""Thrift compact protocol — generic pure-Python codec.

The wire framing under Jaeger's classic trace transport (public specs:
Apache Thrift compact protocol + jaegertracing/jaeger-idl
``jaeger.thrift``).  Implemented from the spec like the repo's other
binary codecs (protowire.py, msgpack_codec.py, avro_codec.py): no
thrift package in the container, and the decode hot path runs per body
inside ``mapInArrow`` (``sources/decoders.py::decode_bodies``).

Wire rules (compact protocol spec):

- ints are ULEB128 varints; i16/i32/i64 zigzag first
- field header: one byte ``(delta << 4) | type`` with 1 <= delta <= 15
  (field id relative to the previous field in this struct); delta 0
  means a long-form header — type byte then zigzag varint field id
- struct terminates with a 0x00 stop byte; BOOL packs its value INTO
  the field type (1 = true, 2 = false); inside collections bools are
  one byte
- collection header: ``(size << 4) | elem_type`` for size <= 14, else
  ``0xF0 | elem_type`` + varint size
- binary/string: varint length + bytes; double: 8 bytes little-endian
  (compact is LE where the older binary protocol is BE)

Values decode into (field_id -> value) dicts with structs nested —
schema interpretation (which field is which) stays in the caller
(sources/jaeger.py), mirroring how protowire.py splits wire from IDL.
"""

from __future__ import annotations

import struct

# compact type codes
T_BOOL_TRUE = 1
T_BOOL_FALSE = 2
T_BYTE = 3
T_I16 = 4
T_I32 = 5
T_I64 = 6
T_DOUBLE = 7
T_BINARY = 8
T_LIST = 9
T_SET = 10
T_MAP = 11
T_STRUCT = 12


def write_varint(out: bytearray, n: int) -> None:
    if n < 0:
        raise ValueError("varint must be non-negative")
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = acc = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated thrift varint")
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return acc, pos
        shift += 7
        if shift > 63:
            raise ValueError("thrift varint too long")


def _zigzag(n: int) -> int:
    return ((n << 1) ^ (n >> 63)) & ((1 << 64) - 1)


def _unzigzag(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


class FieldWriter:
    """Encode one struct's fields in ascending id order."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._last_id = 0

    def _header(self, fid: int, ftype: int) -> None:
        delta = fid - self._last_id
        if 1 <= delta <= 15:
            self.out.append((delta << 4) | ftype)
        else:
            self.out.append(ftype)
            write_varint(self.out, _zigzag(fid))
        self._last_id = fid

    def i64(self, fid: int, v: int) -> None:
        self._header(fid, T_I64)
        write_varint(self.out, _zigzag(v))

    def i32(self, fid: int, v: int) -> None:
        self._header(fid, T_I32)
        write_varint(self.out, _zigzag(v))

    def double(self, fid: int, v: float) -> None:
        self._header(fid, T_DOUBLE)
        self.out += struct.pack("<d", v)

    def boolean(self, fid: int, v: bool) -> None:
        self._header(fid, T_BOOL_TRUE if v else T_BOOL_FALSE)

    def binary(self, fid: int, v: bytes) -> None:
        self._header(fid, T_BINARY)
        write_varint(self.out, len(v))
        self.out += v

    def string(self, fid: int, v: str) -> None:
        self.binary(fid, v.encode("utf-8"))

    def struct(self, fid: int, body: bytes) -> None:
        self._header(fid, T_STRUCT)
        self.out += body

    def list_of_structs(self, fid: int, bodies: list[bytes]) -> None:
        self._header(fid, T_LIST)
        n = len(bodies)
        if n <= 14:
            self.out.append((n << 4) | T_STRUCT)
        else:
            self.out.append(0xF0 | T_STRUCT)
            write_varint(self.out, n)
        for b in bodies:
            self.out += b

    def stop(self) -> bytes:
        self.out.append(0x00)
        return bytes(self.out)


def read_struct(buf: bytes, pos: int) -> tuple[dict, int]:
    """Decode one struct -> {field_id: value}; structs nest as dicts,
    lists/sets as Python lists, maps as dicts."""
    fields: dict = {}
    last_id = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated thrift struct")
        b = buf[pos]
        pos += 1
        if b == 0x00:
            return fields, pos
        delta, ftype = b >> 4, b & 0x0F
        if delta:
            fid = last_id + delta
        else:
            z, pos = read_varint(buf, pos)
            fid = _unzigzag(z)
        last_id = fid
        fields[fid], pos = _read_value(buf, pos, ftype)


def _read_value(buf: bytes, pos: int, ftype: int):
    if ftype == T_BOOL_TRUE:
        return True, pos
    if ftype == T_BOOL_FALSE:
        return False, pos
    if ftype == T_BYTE:
        if pos >= len(buf):
            raise ValueError("truncated thrift byte")
        return struct.unpack_from(">b", buf, pos)[0], pos + 1
    if ftype in (T_I16, T_I32, T_I64):
        z, pos = read_varint(buf, pos)
        return _unzigzag(z), pos
    if ftype == T_DOUBLE:
        if pos + 8 > len(buf):
            raise ValueError("truncated thrift double")
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if ftype == T_BINARY:
        n, pos = read_varint(buf, pos)
        if pos + n > len(buf):
            raise ValueError("truncated thrift binary")
        return buf[pos : pos + n], pos + n
    if ftype in (T_LIST, T_SET):
        if pos >= len(buf):
            raise ValueError("truncated thrift list header")
        h = buf[pos]
        pos += 1
        n, et = h >> 4, h & 0x0F
        if n == 15:
            n, pos = read_varint(buf, pos)
        out = []
        for _ in range(n):
            v, pos = _read_collection_elem(buf, pos, et)
            out.append(v)
        return out, pos
    if ftype == T_MAP:
        n, pos = read_varint(buf, pos)
        if n == 0:
            return {}, pos
        if pos >= len(buf):
            raise ValueError("truncated thrift map header")
        kt, vt = buf[pos] >> 4, buf[pos] & 0x0F
        pos += 1
        out = {}
        for _ in range(n):
            k, pos = _read_collection_elem(buf, pos, kt)
            v, pos = _read_collection_elem(buf, pos, vt)
            out[k] = v
        return out, pos
    if ftype == T_STRUCT:
        return read_struct(buf, pos)
    raise ValueError(f"unknown thrift compact type {ftype}")


def _read_collection_elem(buf: bytes, pos: int, ftype: int):
    # inside collections, bools are one byte (1/0), not header-packed
    if ftype in (T_BOOL_TRUE, T_BOOL_FALSE):
        if pos >= len(buf):
            raise ValueError("truncated thrift bool")
        return buf[pos] == 1, pos + 1
    return _read_value(buf, pos, ftype)
