"""Minimal protobuf writer for OTLP ``ExportLogsServiceRequest`` bodies.

The benchmark encodes its OTLP input itself: ``protobuf`` is not
installed, and feeding the decoder bytes made by the program's own
encoder would let one codec bug hide another.  Field numbers follow the
public opentelemetry-proto ``collector/logs/v1`` and ``logs/v1`` files:

    ExportLogsServiceRequest { repeated ResourceLogs resource_logs = 1; }
    ResourceLogs { Resource resource = 1; repeated ScopeLogs scope_logs = 2; }
    Resource     { repeated KeyValue attributes = 1; }
    ScopeLogs    { InstrumentationScope scope = 1; repeated LogRecord log_records = 2; }
    InstrumentationScope { string name = 1; }
    LogRecord    { fixed64 time_unix_nano = 1; SeverityNumber severity_number = 2;
                   string severity_text = 3; AnyValue body = 5;
                   repeated KeyValue attributes = 6; }
    KeyValue     { string key = 1; AnyValue value = 2; }
    AnyValue     { string string_value = 1; }
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

VARINT, FIXED64, LEN = 0, 1, 2


def varint(n: int) -> bytes:
    """Unsigned LEB128 varint (non-negative ``n`` only)."""
    if n < 0:
        raise ValueError("varint takes non-negative integers")
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def tag(field: int, wire_type: int) -> bytes:
    return varint(field << 3 | wire_type)


def ld(field: int, payload: bytes) -> bytes:
    """Length-delimited field (strings, bytes, embedded messages)."""
    return tag(field, LEN) + varint(len(payload)) + payload


def uint(field: int, value: int) -> bytes:
    return tag(field, VARINT) + varint(value)


def fixed64(field: int, value: int) -> bytes:
    return tag(field, FIXED64) + struct.pack("<Q", value)


def any_string(s: str) -> bytes:
    return ld(1, s.encode("utf-8"))


def key_value(key: str, value: str) -> bytes:
    return ld(1, key.encode("utf-8")) + ld(2, any_string(value))


def log_record(
    time_unix_nano: int,
    severity_number: int,
    severity_text: str | None,
    body: str,
    attributes: list[tuple[str, str]],
) -> bytes:
    """One encoded ``LogRecord`` message (without its field tag).
    ``severity_number`` 0 and ``severity_text`` None are proto3 defaults
    and are omitted from the wire."""
    out = fixed64(1, time_unix_nano)
    if severity_number:
        out += uint(2, severity_number)
    if severity_text:
        out += ld(3, severity_text.encode("utf-8"))
    out += ld(5, any_string(body))
    for k, v in attributes:
        out += ld(6, key_value(k, v))
    return out


def export_logs_request(service_name: str, scope_name: str, records: list[bytes]) -> bytes:
    """One request with one resource (``service.name``) and one scope
    holding ``records`` (each the output of ``log_record``)."""
    return export_logs_framed(service_name, scope_name, b"".join(ld(2, r) for r in records))


def export_logs_framed(service_name: str, scope_name: str, framed_records: bytes) -> bytes:
    """``export_logs_request`` for records already framed as
    ``ScopeLogs.log_records`` fields (``ld(2, record)`` each)."""
    resource = ld(1, ld(1, key_value("service.name", service_name)))
    scope = ld(1, ld(1, scope_name.encode("utf-8"))) + framed_records
    return ld(1, resource + ld(2, scope))


# ---------------------------------------------------------------------------
# Column-at-a-time forms of the writers above, for generating many records
# quickly.  Each returns the same bytes, row by row, as its scalar twin
# (pinned by the tests).
# ---------------------------------------------------------------------------

_MAX_ARRAY_VARINT = 1 << 14  # every varint below this fits in two bytes
_VARINTS = pa.array([varint(i) for i in range(_MAX_ARRAY_VARINT)], pa.binary())


def _b(value: bytes) -> pa.Scalar:
    return pa.scalar(value, pa.binary())


def _join(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, _b(b""))


def varint_array(values: np.ndarray) -> pa.Array:
    if len(values) and (values.min() < 0 or values.max() >= _MAX_ARRAY_VARINT):
        raise ValueError(f"varint_array covers 0..{_MAX_ARRAY_VARINT - 1}")
    return _VARINTS.take(pa.array(values))


def ld_array(field: int, payload: pa.Array) -> pa.Array:
    payload = pc.cast(payload, pa.binary())
    # a null payload stays null (the caller decides what it omits)
    lengths = pc.fill_null(pc.binary_length(payload), 0).to_numpy()
    return _join(_b(tag(field, LEN)), varint_array(lengths), payload)


def fixed64_array(field: int, values: np.ndarray) -> pa.Array:
    raw = np.ascontiguousarray(values, dtype="<u8")
    fixed = pa.Array.from_buffers(pa.binary(8), len(raw), [None, pa.py_buffer(raw.tobytes())])
    return _join(_b(tag(field, FIXED64)), pc.cast(fixed, pa.binary()))


def log_record_array(
    time_unix_nano: np.ndarray,
    severity_number: np.ndarray,
    severity_text: pa.Array,
    body: pa.Array,
    attributes: list[tuple[str, pa.Array]],
) -> pa.Array:
    """``log_record`` for whole columns; a row with severity number 0 or
    a null severity text omits that field, as the scalar form does."""
    sev = pc.if_else(
        pa.array(severity_number > 0),
        _join(_b(tag(2, VARINT)), varint_array(severity_number)),
        _b(b""),
    )
    sev_text = pc.fill_null(ld_array(3, severity_text), _b(b""))
    parts = [fixed64_array(1, time_unix_nano), sev, sev_text, ld_array(5, ld_array(1, body))]
    for key, values in attributes:
        kv = _join(_b(ld(1, key.encode("utf-8"))), ld_array(2, ld_array(1, values)))
        parts.append(ld_array(6, kv))
    return _join(*parts)
