"""Protobuf wire-format primitives + prompb.WriteRequest codec (pure Python,
implemented from the PUBLIC protobuf encoding spec and the public
prometheus/prompb schema — no generated code, no external libs).

Closes the transport gap of the prometheusremotewritev1receiver
(receiver/prometheusremotewritev1receiver/receiver.go:31-80): the reference
decodes snappy-compressed prompb bodies before handing the post-protobuf
shape to the translator; this module does the same inside an Arrow-batched
UDF so ``sources/decoders.py::prw_translate`` can start from raw HTTP
bodies.

prompb schema (public):
    WriteRequest { repeated TimeSeries timeseries = 1; }
    TimeSeries   { repeated Label labels = 1; repeated Sample samples = 2; }
    Label        { string name = 1; string value = 2; }
    Sample       { double value = 1; int64 timestamp = 2; }  // ms
"""

from __future__ import annotations


def encode_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated protobuf varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("protobuf varint too long")


def _ld(field: int, payload: bytes) -> bytes:
    """Length-delimited field (wire type 2)."""
    return encode_varint((field << 3) | 2) + encode_varint(len(payload)) + payload


def encode_write_request(series: list[dict]) -> bytes:
    """series: [{"labels": {name: value}, "samples": [(value, ts_ms), ...]}]"""
    import struct

    body = bytearray()
    for ts in series:
        ts_body = bytearray()
        for name, value in ts["labels"].items():
            ts_body += _ld(1, _ld(1, name.encode()) + _ld(2, value.encode()))
        for value, ts_ms in ts["samples"]:
            sample = (
                encode_varint((1 << 3) | 1)  # field 1, wire type 1 (fixed64)
                + struct.pack("<d", value)
                + encode_varint(2 << 3)  # field 2, wire type 0 (varint)
                + encode_varint(ts_ms & 0xFFFFFFFFFFFFFFFF)
            )
            ts_body += _ld(2, bytes(sample))
        body += _ld(1, bytes(ts_body))
    return bytes(body)


def decode_write_request(buf: bytes) -> list[dict]:
    """Parses a prompb.WriteRequest; unknown fields are skipped per spec."""
    import struct

    def skip(buf: bytes, pos: int, wire: int) -> int:
        if wire == 0:
            _, pos = decode_varint(buf, pos)
        elif wire == 1:
            pos += 8
        elif wire == 2:
            ln, pos = decode_varint(buf, pos)
            pos += ln
        elif wire == 5:
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wire}")
        return pos

    def parse_label(b: bytes) -> tuple[str, str]:
        pos, name, value = 0, "", ""
        while pos < len(b):
            tag, pos = decode_varint(b, pos)
            field, wire = tag >> 3, tag & 7
            if field == 1 and wire == 2:
                ln, pos = decode_varint(b, pos)
                name = b[pos : pos + ln].decode()
                pos += ln
            elif field == 2 and wire == 2:
                ln, pos = decode_varint(b, pos)
                value = b[pos : pos + ln].decode()
                pos += ln
            else:
                pos = skip(b, pos, wire)
        return name, value

    def parse_sample(b: bytes) -> tuple[float, int]:
        pos, value, ts = 0, 0.0, 0
        while pos < len(b):
            tag, pos = decode_varint(b, pos)
            field, wire = tag >> 3, tag & 7
            if field == 1 and wire == 1:
                value = struct.unpack_from("<d", b, pos)[0]
                pos += 8
            elif field == 2 and wire == 0:
                ts, pos = decode_varint(b, pos)
                if ts >= 1 << 63:  # two's-complement int64
                    ts -= 1 << 64
            else:
                pos = skip(b, pos, wire)
        return value, ts

    def parse_timeseries(b: bytes) -> dict:
        pos = 0
        labels: dict[str, str] = {}
        samples: list[tuple[float, int]] = []
        while pos < len(b):
            tag, pos = decode_varint(b, pos)
            field, wire = tag >> 3, tag & 7
            if field == 1 and wire == 2:
                ln, pos = decode_varint(b, pos)
                name, value = parse_label(b[pos : pos + ln])
                labels[name] = value
                pos += ln
            elif field == 2 and wire == 2:
                ln, pos = decode_varint(b, pos)
                samples.append(parse_sample(b[pos : pos + ln]))
                pos += ln
            else:
                pos = skip(b, pos, wire)
        return {"labels": labels, "samples": samples}

    pos = 0
    out: list[dict] = []
    while pos < len(buf):
        tag, pos = decode_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if field == 1 and wire == 2:
            ln, pos = decode_varint(buf, pos)
            out.append(parse_timeseries(buf[pos : pos + ln]))
            pos += ln
        else:
            pos = skip(buf, pos, wire)
    return out


# ---------------------------------------------------------------------------
# OTLP logs protobuf (opentelemetry-proto logs/v1 + collector/logs/v1,
# public schema) — the binary wire the JSON mapping in sources/otlp.py
# shadows.  Field numbers from the public logs.proto:
#   ExportLogsServiceRequest { repeated ResourceLogs resource_logs = 1; }
#   ResourceLogs { Resource resource = 1; repeated ScopeLogs scope_logs = 2; }
#   Resource     { repeated KeyValue attributes = 1; }
#   ScopeLogs    { InstrumentationScope scope = 1;
#                  repeated LogRecord log_records = 2; }
#   InstrumentationScope { string name = 1; string version = 2; }
#   LogRecord { fixed64 time_unix_nano = 1; SeverityNumber severity_number
#               = 2; string severity_text = 3; AnyValue body = 5;
#               repeated KeyValue attributes = 6; uint32
#               dropped_attributes_count = 7; fixed32 flags = 8;
#               bytes trace_id = 9; bytes span_id = 10;
#               fixed64 observed_time_unix_nano = 11; }
#   KeyValue { string key = 1; AnyValue value = 2; }
#   AnyValue { string=1 | bool=2 | int=3 | double=4 | ... }
# ---------------------------------------------------------------------------

import struct as _struct


def _fixed64(field: int, value: int) -> bytes:
    return encode_varint(field << 3 | 1) + _struct.pack("<Q", value & (2**64 - 1))


def _vint(field: int, value: int) -> bytes:
    return encode_varint(field << 3 | 0) + encode_varint(value)


def _any_string(s: str) -> bytes:
    return _ld(1, s.encode("utf-8"))


def _kv(key: str, value: str) -> bytes:
    return _ld(1, key.encode("utf-8")) + _ld(2, _any_string(value))


def _envelope(resource_attrs: dict, scope_name, records: bytes) -> bytes:
    """Shared Export*ServiceRequest envelope: Resource{attributes} +
    Scope{name} wrapping already-encoded record bytes.  The
    resource/scope nesting (request.1 = ResourceX, ResourceX.1 =
    Resource, ResourceX.2 = ScopeX, ScopeX.1 = InstrumentationScope)
    uses the same field numbers in the public logs/trace/metrics
    protos.  None-valued resource attrs are OMITTED (decodes back to
    absent, matching the JSON twin's null semantics); a None scope
    name encodes as the proto3-default empty string."""
    res = b"".join(
        _kv(k, str(v))
        for k, v in sorted(resource_attrs.items())
        if v is not None
    )
    scope = _ld(1, _ld(1, ("" if scope_name is None
                           else str(scope_name)).encode("utf-8"))) + records
    return _ld(1, _ld(1, _ld(1, res)) + _ld(2, scope))


def _iter_scoped_records(buf: bytes):
    """Shared envelope walk for the three Export*ServiceRequest
    decoders: yields ``(res_attrs, scope_name, record_bytes)`` per
    record message (LogRecord / Span / Metric — always field 2 of the
    scope-level message).  Collects the scope name BEFORE yielding so
    a wire where InstrumentationScope trails the records still tags
    every record."""
    for f0, _, rl in _parse_fields(buf):
        if f0 != 1:
            continue
        res_attrs: dict = {}
        scope_entries = []
        for f1, _, v1 in _parse_fields(rl):
            if f1 == 1:  # Resource
                for f2, _, v2 in _parse_fields(v1):
                    if f2 == 1:
                        k, v = _parse_kv(v2)
                        if k is not None:
                            res_attrs[k] = v
            elif f1 == 2:  # ScopeLogs / ScopeSpans / ScopeMetrics
                scope_entries.append(v1)
        for sl in scope_entries:
            scope_name = ""
            records = []
            for f2, _, v2 in _parse_fields(sl):
                if f2 == 1:  # InstrumentationScope
                    for f3, _, v3 in _parse_fields(v2):
                        if f3 == 1:
                            scope_name = v3.decode("utf-8")
                elif f2 == 2:
                    records.append(v2)
            for rec in records:
                yield res_attrs, scope_name, rec


def encode_otlp_logs_request(
    resource_attrs: dict,
    scope_name: str,
    records: list[dict],
) -> bytes:
    """One ExportLogsServiceRequest with a single resource/scope entry.
    Record dict keys: time_unix_nano, observed_unix_nano,
    severity_number, severity_text, body (string), trace_id/span_id
    (lowercase hex), attributes (str->str dict, emitted key-sorted)."""
    recs = b""
    for r in records:
        body = b""
        body += _fixed64(1, int(r["time_unix_nano"]))
        if r.get("severity_number"):
            body += _vint(2, int(r["severity_number"]))
        if r.get("severity_text"):
            body += _ld(3, str(r["severity_text"]).encode("utf-8"))
        if r.get("body") is not None:
            body += _ld(5, _any_string(str(r["body"])))
        for k, v in sorted((r.get("attributes") or {}).items()):
            body += _ld(6, _kv(k, str(v)))
        if r.get("trace_id"):
            body += _ld(9, bytes.fromhex(r["trace_id"]))
        if r.get("span_id"):
            body += _ld(10, bytes.fromhex(r["span_id"]))
        if r.get("observed_unix_nano") is not None:
            body += _fixed64(11, int(r["observed_unix_nano"]))
        recs += _ld(2, body)
    return _envelope(resource_attrs, scope_name, recs)


def _parse_fields(buf: bytes):
    pos = 0
    while pos < len(buf):
        tag, pos = decode_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if wire == 2:
            ln, pos = decode_varint(buf, pos)
            yield field, wire, buf[pos:pos + ln]
            pos += ln
        elif wire == 0:
            v, pos = decode_varint(buf, pos)
            yield field, wire, v
        elif wire == 1:
            yield field, wire, _struct.unpack("<Q", buf[pos:pos + 8])[0]
            pos += 8
        elif wire == 5:
            yield field, wire, _struct.unpack("<I", buf[pos:pos + 4])[0]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wire}")


def _parse_any(buf: bytes):
    for f, w, v in _parse_fields(buf):
        if f == 1:
            return v.decode("utf-8")
        if f == 2:
            return "true" if v else "false"
        if f == 3:
            # int64 rides as a 64-bit two's-complement varint
            return str(v - 2**64 if v >= 2**63 else v)
        if f == 4:
            return str(_struct.unpack("<d", _struct.pack("<Q", v))[0])
    return None


def _parse_kv(buf: bytes):
    key, val = None, None
    for f, w, v in _parse_fields(buf):
        if f == 1:
            key = v.decode("utf-8")
        elif f == 2:
            val = _parse_any(v)
    return key, val


def decode_otlp_logs_request(buf: bytes) -> list[dict]:
    """ExportLogsServiceRequest bytes -> one dict per LogRecord (same
    keys as the encoder), resource/scope fields flattened on."""
    out = []
    for res_attrs, scope_name, v2 in _iter_scoped_records(buf):
        rec = {
            "time_unix_nano": None,
            "observed_unix_nano": None,
            "severity_number": 0,
            "severity_text": None,
            "body": None,
            "trace_id": None,
            "span_id": None,
            "attributes": {},
        }
        for f3, w3, v3 in _parse_fields(v2):
            if f3 == 1:
                rec["time_unix_nano"] = v3
            elif f3 == 2:
                rec["severity_number"] = v3
            elif f3 == 3:
                rec["severity_text"] = v3.decode("utf-8")
            elif f3 == 5:
                rec["body"] = _parse_any(v3)
            elif f3 == 6:
                k, v = _parse_kv(v3)
                if k is not None:
                    rec["attributes"][k] = v
            elif f3 == 9:
                rec["trace_id"] = v3.hex()
            elif f3 == 10:
                rec["span_id"] = v3.hex()
            elif f3 == 11:
                rec["observed_unix_nano"] = v3
        rec["resource_attrs"] = dict(res_attrs)
        rec["scope_name"] = scope_name
        out.append(rec)
    return out


# ---------------------------------------------------------------------------
# OTLP traces protobuf (opentelemetry-proto trace/v1 + collector/trace/v1,
# public schema) — field numbers from the public trace.proto:
#   ExportTraceServiceRequest { repeated ResourceSpans resource_spans = 1; }
#   ResourceSpans { Resource resource = 1; repeated ScopeSpans scope_spans=2; }
#   ScopeSpans { InstrumentationScope scope = 1; repeated Span spans = 2; }
#   Span { bytes trace_id = 1; bytes span_id = 2; string trace_state = 3;
#          bytes parent_span_id = 4; string name = 5; SpanKind kind = 6;
#          fixed64 start_time_unix_nano = 7; fixed64 end_time_unix_nano = 8;
#          repeated KeyValue attributes = 9; Status status = 15; }
#   Status { string message = 2; StatusCode code = 3; }  // field 1 reserved
# ---------------------------------------------------------------------------


def _double(field: int, value: float) -> bytes:
    return encode_varint(field << 3 | 1) + _struct.pack("<d", float(value))


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def encode_otlp_traces_request(
    resource_attrs: dict,
    scope_name: str,
    spans: list[dict],
) -> bytes:
    """One ExportTraceServiceRequest with a single resource/scope entry.
    Span dict keys: trace_id/span_id/parent_span_id (lowercase hex),
    name, kind (int), start_time_unix_nano, end_time_unix_nano,
    status_code (int), status_message, attributes (str->str dict,
    emitted key-sorted), plus optional ``events`` (list of
    {time_unix_nano, name, attributes}; Span.events field 11) and
    ``links`` (list of {trace_id, span_id, attributes}; Span.links
    field 13) per the public trace.proto."""
    sps = b""
    for s in spans:
        body = b""
        if s.get("trace_id"):
            body += _ld(1, bytes.fromhex(s["trace_id"]))
        if s.get("span_id"):
            body += _ld(2, bytes.fromhex(s["span_id"]))
        if s.get("parent_span_id"):
            body += _ld(4, bytes.fromhex(s["parent_span_id"]))
        if s.get("name") is not None:
            body += _ld(5, str(s["name"]).encode("utf-8"))
        if s.get("kind"):
            body += _vint(6, int(s["kind"]))
        if s.get("start_time_unix_nano") is not None:
            body += _fixed64(7, int(s["start_time_unix_nano"]))
        if s.get("end_time_unix_nano") is not None:
            body += _fixed64(8, int(s["end_time_unix_nano"]))
        for k, v in sorted((s.get("attributes") or {}).items()):
            body += _ld(9, _kv(k, str(v)))
        for e in s.get("events") or []:
            ev = b""
            if e.get("time_unix_nano") is not None:
                ev += _fixed64(1, int(e["time_unix_nano"]))
            if e.get("name") is not None:
                ev += _ld(2, str(e["name"]).encode("utf-8"))
            for k, v in sorted((e.get("attributes") or {}).items()):
                ev += _ld(3, _kv(k, str(v)))
            body += _ld(11, ev)
        for lk in s.get("links") or []:
            ln = b""
            if lk.get("trace_id"):
                ln += _ld(1, bytes.fromhex(lk["trace_id"]))
            if lk.get("span_id"):
                ln += _ld(2, bytes.fromhex(lk["span_id"]))
            for k, v in sorted((lk.get("attributes") or {}).items()):
                ln += _ld(4, _kv(k, str(v)))
            body += _ld(13, ln)
        status = b""
        if s.get("status_message"):
            status += _ld(2, str(s["status_message"]).encode("utf-8"))
        if s.get("status_code"):
            status += _vint(3, int(s["status_code"]))
        if status:
            body += _ld(15, status)
        sps += _ld(2, body)
    return _envelope(resource_attrs, scope_name, sps)


def decode_otlp_traces_request(buf: bytes) -> list[dict]:
    """ExportTraceServiceRequest bytes -> one dict per Span (same keys
    as the encoder; absent parent -> None, absent status -> code 0 /
    message None, proto3 defaults), resource/scope flattened on."""
    out = []
    for res_attrs, scope_name, v2 in _iter_scoped_records(buf):
        sp = {
            "trace_id": None, "span_id": None,
            "parent_span_id": None, "name": None, "kind": 0,
            "start_time_unix_nano": None,
            "end_time_unix_nano": None,
            "status_code": 0, "status_message": None,
            "attributes": {}, "events": None, "links": None,
        }
        for f3, w3, v3 in _parse_fields(v2):
            if f3 == 1:
                sp["trace_id"] = v3.hex()
            elif f3 == 2:
                sp["span_id"] = v3.hex()
            elif f3 == 4:
                sp["parent_span_id"] = v3.hex()
            elif f3 == 5:
                sp["name"] = v3.decode("utf-8")
            elif f3 == 6:
                sp["kind"] = v3
            elif f3 == 7:
                sp["start_time_unix_nano"] = v3
            elif f3 == 8:
                sp["end_time_unix_nano"] = v3
            elif f3 == 9:
                k, v = _parse_kv(v3)
                if k is not None:
                    sp["attributes"][k] = v
            elif f3 == 11:
                ev = {"time_unix_nano": None, "name": None,
                      "attributes": {}}
                for f4, w4, v4 in _parse_fields(v3):
                    if f4 == 1 and w4 == 1:
                        ev["time_unix_nano"] = v4
                    elif f4 == 2 and w4 == 2:
                        ev["name"] = v4.decode("utf-8")
                    elif f4 == 3 and w4 == 2:
                        k, v = _parse_kv(v4)
                        if k is not None:
                            ev["attributes"][k] = v
                sp["events"] = (sp["events"] or []) + [ev]
            elif f3 == 13:
                lk = {"trace_id": None, "span_id": None, "attributes": {}}
                for f4, w4, v4 in _parse_fields(v3):
                    if f4 == 1 and w4 == 2:
                        lk["trace_id"] = v4.hex()
                    elif f4 == 2 and w4 == 2:
                        lk["span_id"] = v4.hex()
                    elif f4 == 4 and w4 == 2:
                        k, v = _parse_kv(v4)
                        if k is not None:
                            lk["attributes"][k] = v
                sp["links"] = (sp["links"] or []) + [lk]
            elif f3 == 15:
                for f4, _, v4 in _parse_fields(v3):
                    if f4 == 2:
                        sp["status_message"] = v4.decode("utf-8")
                    elif f4 == 3:
                        sp["status_code"] = v4
        sp["resource_attrs"] = dict(res_attrs)
        sp["scope_name"] = scope_name
        out.append(sp)
    return out


# ---------------------------------------------------------------------------
# OTLP metrics protobuf (opentelemetry-proto metrics/v1, public schema).
# Field numbers from the public metrics.proto:
#   Metric { name=1; unit=3; gauge=5; sum=7; histogram=9;
#            exponential_histogram=10; summary=11 }
#   Gauge/Summary { data_points=1 }  Sum { dp=1; temporality=2; monotonic=3 }
#   Histogram/ExpHistogram { dp=1; temporality=2 }
#   NumberDataPoint { attrs=7; start=2; time=3; as_double=4; as_int=6
#                     (sfixed64) }
#   HistogramDataPoint { attrs=9; start=2; time=3; count=4 (fixed64);
#                        sum=5; bucket_counts=6 (packed fixed64);
#                        explicit_bounds=7 (packed double); min=11; max=12 }
#   ExponentialHistogramDataPoint { attrs=1; start=2; time=3; count=4;
#                        sum=5; scale=6 (sint32); zero_count=7 (fixed64);
#                        positive=8; negative=9 }
#   Buckets { offset=1 (sint32); bucket_counts=2 (packed uint64) }
#   SummaryDataPoint { attrs=7; start=2; time=3; count=4 (fixed64);
#                        sum=5; quantile_values=6 }
#   ValueAtQuantile { quantile=1; value=2 }
# Packed repeated scalars are encoded packed (the proto3 default) and
# decoded in BOTH packed and unpacked forms per the spec.
# ---------------------------------------------------------------------------

_METRIC_TYPE_FIELD = {
    "gauge": 5, "sum": 7, "histogram": 9,
    "exponential_histogram": 10, "summary": 11,
}
_FIELD_METRIC_TYPE = {v: k for k, v in _METRIC_TYPE_FIELD.items()}


def _packed_fixed64(field: int, values: list[int]) -> bytes:
    return _ld(field, b"".join(
        _struct.pack("<Q", int(v) & (2**64 - 1)) for v in values
    ))


def _packed_double(field: int, values: list[float]) -> bytes:
    return _ld(field, b"".join(_struct.pack("<d", float(v)) for v in values))


def _packed_varint(field: int, values: list[int]) -> bytes:
    # mask like _fixed64/_packed_fixed64: a negative value would make
    # encode_varint loop forever (n >>= 7 never terminates on Python's
    # arbitrary-precision negatives)
    return _ld(field, b"".join(
        encode_varint(int(v) & (2**64 - 1)) for v in values
    ))


def _unpack_fixed64(buf: bytes) -> list[int]:
    return [v[0] for v in _struct.iter_unpack("<Q", buf)]


def _unpack_double(buf: bytes) -> list[float]:
    return [v[0] for v in _struct.iter_unpack("<d", buf)]


def _unpack_varints(buf: bytes) -> list[int]:
    out, pos = [], 0
    while pos < len(buf):
        v, pos = decode_varint(buf, pos)
        out.append(v)
    return out


def _enc_dp_common(p: dict, attrs_field: int) -> bytes:
    body = b""
    if p.get("start_time_unix_nano") is not None:
        body += _fixed64(2, int(p["start_time_unix_nano"]))
    body += _fixed64(3, int(p["time_unix_nano"]))
    for k, v in sorted((p.get("attributes") or {}).items()):
        body += _ld(attrs_field, _kv(k, str(v)))
    return body


# Exemplar { filtered_attributes=7; time_unix_nano=2 (fixed64);
#            as_double=3; as_int=6 (sfixed64); span_id=4; trace_id=5 }
# exemplars field per point type (public metrics.proto):
#   NumberDataPoint=5, HistogramDataPoint=8,
#   ExponentialHistogramDataPoint=11; SummaryDataPoint carries none.
_EXEMPLARS_FIELD = {
    "gauge": 5, "sum": 5, "histogram": 8, "exponential_histogram": 11,
}


def _enc_exemplar(ex: dict) -> bytes:
    """Exemplar dict -> message bytes.  Keys: time_unix_nano,
    value_double XOR value_long, trace_id/span_id (lowercase hex).
    filtered_attributes are out of scope of the flat model."""
    b = b""
    if ex.get("time_unix_nano") is not None:
        b += _fixed64(2, int(ex["time_unix_nano"]))
    if ex.get("value_double") is not None:
        b += _double(3, ex["value_double"])
    elif ex.get("value_long") is not None:
        b += (encode_varint(6 << 3 | 1)
              + _struct.pack("<q", int(ex["value_long"])))
    if ex.get("span_id"):
        b += _ld(4, bytes.fromhex(ex["span_id"]))
    if ex.get("trace_id"):
        b += _ld(5, bytes.fromhex(ex["trace_id"]))
    return b


def _dec_exemplar(buf: bytes) -> dict:
    ex = {"time_unix_nano": None, "value_double": None, "value_long": None,
          "trace_id": None, "span_id": None}
    for f, w, v in _parse_fields(buf):
        if f == 2 and w == 1:
            ex["time_unix_nano"] = v
        elif f == 3 and w == 1:
            ex["value_double"] = _struct.unpack(
                "<d", _struct.pack("<Q", v)
            )[0]
        elif f == 6 and w == 1:
            ex["value_long"] = v - 2**64 if v >= 2**63 else v
        elif f == 4 and w == 2:
            ex["span_id"] = v.hex()
        elif f == 5 and w == 2:
            ex["trace_id"] = v.hex()
    return ex


def encode_otlp_metrics_request(
    resource_attrs: dict,
    scope_name: str,
    points: list[dict],
) -> bytes:
    """One ExportMetricsServiceRequest with a single resource/scope
    entry and ONE Metric per datapoint dict (the receiver-side
    one-post-per-point shape; batching across points is the JSON
    encoder's job).  Point dict keys: metric_name, metric_type (one of
    the five), temporality / is_monotonic where typed, plus the
    flat-model value fields of sources/otlp.py::decode_otlp_metrics."""
    metrics = b""
    for p in points:
        mtype = p["metric_type"]
        if mtype not in _METRIC_TYPE_FIELD:
            raise ValueError(f"unknown metric_type {mtype!r}")
        if mtype in ("gauge", "sum"):
            dp = _enc_dp_common(p, 7)
            if p.get("value_double") is not None:
                dp += _double(4, p["value_double"])
            elif p.get("value_long") is not None:
                dp += (encode_varint(6 << 3 | 1)
                       + _struct.pack("<q", int(p["value_long"])))
        elif mtype == "histogram":
            dp = _enc_dp_common(p, 9)
            dp += _fixed64(4, int(p["count"]))
            if p.get("sum") is not None:
                dp += _double(5, p["sum"])
            if p.get("bucket_counts") is not None:
                dp += _packed_fixed64(6, p["bucket_counts"])
            if p.get("bounds") is not None:
                dp += _packed_double(7, p["bounds"])
            if p.get("min") is not None:
                dp += _double(11, p["min"])
            if p.get("max") is not None:
                dp += _double(12, p["max"])
        elif mtype == "exponential_histogram":
            dp = _enc_dp_common(p, 1)
            dp += _fixed64(4, int(p["count"]))
            if p.get("sum") is not None:
                dp += _double(5, p["sum"])
            if p.get("scale"):
                dp += _vint(6, _zigzag(int(p["scale"])))
            if p.get("zero_count"):
                dp += _fixed64(7, int(p["zero_count"]))
            for field, off_k, cnt_k in (
                (8, "pos_offset", "pos_bucket_counts"),
                (9, "neg_offset", "neg_bucket_counts"),
            ):
                if p.get(cnt_k) is not None:
                    b = b""
                    if p.get(off_k):
                        b += _vint(1, _zigzag(int(p[off_k])))
                    b += _packed_varint(2, p[cnt_k])
                    dp += _ld(field, b)
        else:  # summary
            dp = _enc_dp_common(p, 7)
            dp += _fixed64(4, int(p["count"]))
            if p.get("sum") is not None:
                dp += _double(5, p["sum"])
            qs = p.get("q_quantiles") or []
            vs = p.get("q_values") or []
            if len(qs) != len(vs):
                raise ValueError(
                    "summary q_quantiles/q_values length mismatch: "
                    f"{len(qs)} vs {len(vs)}"
                )
            for q, v in zip(qs, vs):
                dp += _ld(6, _double(1, q) + _double(2, v))
        exf = _EXEMPLARS_FIELD.get(mtype)
        if exf is not None:
            for ex in p.get("exemplars") or []:
                dp += _ld(exf, _enc_exemplar(ex))
        elif p.get("exemplars"):
            raise ValueError("summary datapoints carry no exemplars")
        data = _ld(1, dp)
        if mtype == "sum":
            if p.get("temporality"):
                data += _vint(2, int(p["temporality"]))
            if p.get("is_monotonic"):
                data += _vint(3, 1)
        elif mtype in ("histogram", "exponential_histogram"):
            if p.get("temporality"):
                data += _vint(2, int(p["temporality"]))
        metric = _ld(1, str(p["metric_name"]).encode("utf-8"))
        metric += _ld(_METRIC_TYPE_FIELD[mtype], data)
        metrics += _ld(2, metric)
    return _envelope(resource_attrs, scope_name, metrics)


_DP_FIELD_ATTRS = {
    "gauge": 7, "sum": 7, "histogram": 9,
    "exponential_histogram": 1, "summary": 7,
}


def _dec_buckets(buf: bytes) -> tuple[int, list[int]]:
    offset, counts = 0, []
    for f, w, v in _parse_fields(buf):
        if f == 1 and w == 0:
            offset = _unzigzag(v)
        elif f == 2 and w == 2:  # packed uint64
            counts.extend(_unpack_varints(v))
        elif f == 2 and w == 0:  # unpacked element
            counts.append(v)
    return offset, counts


def _dec_metric_dp(mtype: str, buf: bytes) -> dict:
    attrs_field = _DP_FIELD_ATTRS[mtype]
    p: dict = {
        "metric_type": mtype, "attributes": {},
        "start_time_unix_nano": None, "time_unix_nano": None,
        "value_double": None, "value_long": None, "count": None,
        "sum": None, "min": None, "max": None, "bounds": None,
        "bucket_counts": None, "scale": None, "zero_count": None,
        "pos_offset": None, "pos_bucket_counts": None,
        "neg_offset": None, "neg_bucket_counts": None,
        "q_quantiles": None, "q_values": None, "exemplars": None,
    }
    for f, w, v in _parse_fields(buf):
        if f == attrs_field and w == 2:
            k, val = _parse_kv(v)
            if k is not None:
                p["attributes"][k] = val
        elif f == _EXEMPLARS_FIELD.get(mtype, -1) and w == 2:
            p["exemplars"] = (p["exemplars"] or []) + [_dec_exemplar(v)]
        elif f == 2 and w == 1:
            p["start_time_unix_nano"] = v
        elif f == 3 and w == 1:
            p["time_unix_nano"] = v
        elif mtype in ("gauge", "sum") and f == 4 and w == 1:
            p["value_double"] = _struct.unpack("<d", _struct.pack("<Q", v))[0]
        elif mtype in ("gauge", "sum") and f == 6 and w == 1:
            p["value_long"] = v - 2**64 if v >= 2**63 else v
        elif mtype in ("histogram", "exponential_histogram", "summary"):
            if f == 4 and w == 1:
                p["count"] = v
            elif f == 5 and w == 1:
                p["sum"] = _struct.unpack("<d", _struct.pack("<Q", v))[0]
            elif mtype == "histogram":
                if f == 6 and w == 2:
                    p["bucket_counts"] = (
                        (p["bucket_counts"] or []) + _unpack_fixed64(v)
                    )
                elif f == 6 and w == 1:
                    p["bucket_counts"] = (p["bucket_counts"] or []) + [v]
                elif f == 7 and w == 2:
                    p["bounds"] = (p["bounds"] or []) + _unpack_double(v)
                elif f == 7 and w == 1:
                    p["bounds"] = (p["bounds"] or []) + [
                        _struct.unpack("<d", _struct.pack("<Q", v))[0]
                    ]
                elif f == 11 and w == 1:
                    p["min"] = _struct.unpack("<d", _struct.pack("<Q", v))[0]
                elif f == 12 and w == 1:
                    p["max"] = _struct.unpack("<d", _struct.pack("<Q", v))[0]
            elif mtype == "exponential_histogram":
                if f == 6 and w == 0:
                    p["scale"] = _unzigzag(v)
                elif f == 7 and w == 1:
                    p["zero_count"] = v
                elif f == 8 and w == 2:
                    p["pos_offset"], p["pos_bucket_counts"] = _dec_buckets(v)
                elif f == 9 and w == 2:
                    p["neg_offset"], p["neg_bucket_counts"] = _dec_buckets(v)
            elif mtype == "summary" and f == 6 and w == 2:
                # ValueAtQuantile fields are plain proto3 doubles —
                # omitted means 0.0 (implicit presence), not None
                q, val = 0.0, 0.0
                for f2, w2, v2 in _parse_fields(v):
                    if f2 == 1 and w2 == 1:
                        q = _struct.unpack("<d", _struct.pack("<Q", v2))[0]
                    elif f2 == 2 and w2 == 1:
                        val = _struct.unpack("<d", _struct.pack("<Q", v2))[0]
                p["q_quantiles"] = (p["q_quantiles"] or []) + [q]
                p["q_values"] = (p["q_values"] or []) + [val]
    if mtype in ("histogram", "exponential_histogram", "summary"):
        # count is a plain fixed64 — a conformant sender omits it at 0
        if p["count"] is None:
            p["count"] = 0
    return p


def decode_otlp_metrics_request(buf: bytes) -> list[dict]:
    """ExportMetricsServiceRequest bytes -> one dict per datapoint in
    the flat model of sources/otlp.py::decode_otlp_metrics (metric_name,
    metric_type, typed value fields, temporality / is_monotonic,
    resource/scope flattened on).  Proto3 defaults: exponential-
    histogram scale/offset 0 when absent, count 0, sum is_monotonic
    False, ValueAtQuantile quantile/value 0.0."""
    out = []
    for res_attrs, scope_name, v2 in _iter_scoped_records(buf):
        name = None
        points: list[dict] = []
        temporality = None
        monotonic = None
        mtype = None
        for f3, w3, v3 in _parse_fields(v2):
            if f3 == 1 and w3 == 2:
                name = v3.decode("utf-8")
            elif f3 in _FIELD_METRIC_TYPE and w3 == 2:
                mtype = _FIELD_METRIC_TYPE[f3]
                for f4, w4, v4 in _parse_fields(v3):
                    if f4 == 1 and w4 == 2:
                        points.append(_dec_metric_dp(mtype, v4))
                    elif f4 == 2 and w4 == 0:
                        temporality = v4
                    elif f4 == 3 and w4 == 0:
                        monotonic = bool(v4)
        for p in points:
            p["metric_name"] = name
            if mtype in ("sum", "histogram", "exponential_histogram"):
                p["temporality"] = temporality
            else:
                p["temporality"] = None
            p["is_monotonic"] = bool(monotonic) if mtype == "sum" else None
            if mtype == "exponential_histogram":
                if p["pos_bucket_counts"] is not None:
                    p["pos_offset"] = p["pos_offset"] or 0
                if p["neg_bucket_counts"] is not None:
                    p["neg_offset"] = p["neg_offset"] or 0
                if p["scale"] is None:
                    p["scale"] = 0
                if p["zero_count"] is None:
                    p["zero_count"] = 0
            p["resource_attrs"] = dict(res_attrs)
            p["scope_name"] = scope_name
            out.append(p)
    return out


# ---------------------------------------------------------------------------
# Prometheus Remote-Write 2.0 (public spec: prometheus.io remote-write 2.0,
# io.prometheus.write.v2.Request).  The v2 novelty over prompb v1 is the
# request-level SYMBOL TABLE: every label name/value (and metadata help/
# unit) is an index into `symbols` (field 4, repeated string; symbols[0]
# MUST be ""), and a series carries `labels_refs` (field 1, packed uint32,
# alternating name-ref/value-ref) instead of inline Label messages —
# cutting repeated job/instance strings to one copy per request.
# Samples (field 2) keep the v1 shape; Metadata (field 5) carries
# type enum (1) + help_ref (3) + unit_ref (4).
# ---------------------------------------------------------------------------

def encode_write_request_v2(series: list[dict]) -> bytes:
    """series: [{"labels": {name: value}, "samples": [(value, ts_ms)...],
    "metadata": {"type": int, "help": str, "unit": str} (optional)}]."""
    import struct

    symbols: list[str] = [""]
    index: dict[str, int] = {"": 0}

    def ref(s: str) -> int:
        if s not in index:
            index[s] = len(symbols)
            symbols.append(s)
        return index[s]

    ts_bodies = []
    for ts in series:
        refs = bytearray()
        for name, value in ts["labels"].items():
            write = ref(name), ref(value)
            for r in write:
                refs += encode_varint(r)
        body = bytearray(_ld(1, bytes(refs)))
        for value, ts_ms in ts["samples"]:
            sample = (
                encode_varint((1 << 3) | 1)
                + struct.pack("<d", value)
                + encode_varint(2 << 3)
                + encode_varint(ts_ms & 0xFFFFFFFFFFFFFFFF)
            )
            body += _ld(2, bytes(sample))
        md = ts.get("metadata")
        if md:
            mbody = (
                encode_varint(1 << 3)
                + encode_varint(int(md.get("type", 0)))
                + encode_varint(3 << 3)
                + encode_varint(ref(md.get("help", "")))
                + encode_varint(4 << 3)
                + encode_varint(ref(md.get("unit", "")))
            )
            body += _ld(5, bytes(mbody))
        ts_bodies.append(bytes(body))
    out = b"".join(_ld(4, s.encode()) for s in symbols)
    out += b"".join(_ld(5, b) for b in ts_bodies)
    return out


def decode_write_request_v2(buf: bytes) -> list[dict]:
    """Parses io.prometheus.write.v2.Request; two-pass so the symbol
    table need not precede the series on the wire.  Out-of-range symbol
    refs raise (a torn table must not alias into wrong label strings)."""
    import struct

    def skip(b: bytes, pos: int, wire: int) -> int:
        if wire == 0:
            _, pos = decode_varint(b, pos)
        elif wire == 1:
            pos += 8
        elif wire == 2:
            ln, pos = decode_varint(b, pos)
            pos += ln
        elif wire == 5:
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wire}")
        return pos

    symbols: list[str] = []
    raw_series: list[bytes] = []
    pos = 0
    while pos < len(buf):
        tag, pos = decode_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if field == 4 and wire == 2:
            ln, pos = decode_varint(buf, pos)
            symbols.append(buf[pos : pos + ln].decode())
            pos += ln
        elif field == 5 and wire == 2:
            ln, pos = decode_varint(buf, pos)
            raw_series.append(buf[pos : pos + ln])
            pos += ln
        else:
            pos = skip(buf, pos, wire)

    def sym(r: int) -> str:
        if not 0 <= r < len(symbols):
            raise ValueError(f"symbol ref {r} out of range")
        return symbols[r]

    out = []
    for b in raw_series:
        refs: list[int] = []
        samples: list[tuple[float, int]] = []
        meta: dict = {}
        pos = 0
        while pos < len(b):
            tag, pos = decode_varint(b, pos)
            field, wire = tag >> 3, tag & 7
            if field == 1 and wire == 2:  # packed labels_refs
                ln, pos = decode_varint(b, pos)
                end = pos + ln
                while pos < end:
                    r, pos = decode_varint(b, pos)
                    refs.append(r)
            elif field == 1 and wire == 0:  # tolerated unpacked form
                r, pos = decode_varint(b, pos)
                refs.append(r)
            elif field == 2 and wire == 2:
                ln, pos = decode_varint(b, pos)
                sb, spos = b[pos : pos + ln], 0
                pos += ln
                value, ts_ms = 0.0, 0
                while spos < len(sb):
                    stag, spos = decode_varint(sb, spos)
                    sfield, swire = stag >> 3, stag & 7
                    if sfield == 1 and swire == 1:
                        value = struct.unpack_from("<d", sb, spos)[0]
                        spos += 8
                    elif sfield == 2 and swire == 0:
                        ts_ms, spos = decode_varint(sb, spos)
                        if ts_ms >= 1 << 63:
                            ts_ms -= 1 << 64
                    else:
                        spos = skip(sb, spos, swire)
                samples.append((value, ts_ms))
            elif field == 5 and wire == 2:
                ln, pos = decode_varint(b, pos)
                mb, mpos = b[pos : pos + ln], 0
                pos += ln
                while mpos < len(mb):
                    mtag, mpos = decode_varint(mb, mpos)
                    mfield, mwire = mtag >> 3, mtag & 7
                    if mfield == 1 and mwire == 0:
                        meta["type"], mpos = decode_varint(mb, mpos)
                    elif mfield == 3 and mwire == 0:
                        r, mpos = decode_varint(mb, mpos)
                        meta["help"] = sym(r)
                    elif mfield == 4 and mwire == 0:
                        r, mpos = decode_varint(mb, mpos)
                        meta["unit"] = sym(r)
                    else:
                        mpos = skip(mb, mpos, mwire)
            else:
                pos = skip(b, pos, wire)
        if len(refs) % 2:
            raise ValueError("odd labels_refs length")
        labels = {sym(refs[i]): sym(refs[i + 1]) for i in range(0, len(refs), 2)}
        out.append({"labels": labels, "samples": samples, "metadata": meta})
    return out
