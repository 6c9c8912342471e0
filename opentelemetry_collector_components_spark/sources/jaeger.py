"""Jaeger compact-thrift trace intake.

The third trace wire beside OTLP (protobuf + JSON) and Zipkin v2 JSON:
the reference distribution ships the contrib jaegerreceiver
(distributions/elastic-components/manifest.yaml:30), whose classic
transport is a Thrift compact-protocol ``Batch`` per service (public
jaegertracing/jaeger-idl ``jaeger.thrift``):

    Batch   { 1: Process process, 2: list<Span> spans }
    Process { 1: string serviceName, 2: list<Tag> tags }
    Span    { 1: i64 traceIdLow, 2: i64 traceIdHigh, 3: i64 spanId,
              4: i64 parentSpanId, 5: string operationName,
              6: list<SpanRef> references, 7: i32 flags,
              8: i64 startTime (µs), 9: i64 duration (µs),
              10: list<Tag> tags, 11: list<Log> logs }
    Tag     { 1: string key, 2: i32 vType, 3: string vStr,
              4: double vDouble, 5: bool vBool, 6: i64 vLong,
              7: binary vBinary }

Translation to the repo's span shape follows the standard jaeger->otel
mapping: 128-bit trace id = hex(traceIdHigh) ++ hex(traceIdLow)
(zero-padded 16+16), parentSpanId 0 means root (NULL), tag values
stringified by vType into the ``map<string,string>`` attribute model.

Scale shape mirrors the forward/avro intakes: encode one Batch per
(service, shard) group in applyInPandas; decode per body through
``sources/decoders.py::decode_bodies`` — undecodable batches yield one
``valid = false`` row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.thrift_compact import FieldWriter, read_struct
from .decoders import decode_bodies

VT_STRING, VT_DOUBLE, VT_BOOL, VT_LONG, VT_BINARY = range(5)


def _tag(key: str, vtype: int, value) -> bytes:
    w = FieldWriter()
    w.string(1, key)
    w.i32(2, vtype)
    if vtype == VT_STRING:
        w.string(3, value)
    elif vtype == VT_DOUBLE:
        w.double(4, value)
    elif vtype == VT_BOOL:
        w.boolean(5, value)
    elif vtype == VT_LONG:
        w.i64(6, value)
    else:
        w.binary(7, value)
    return w.stop()


def _tag_value_str(t: dict) -> str | None:
    vt = t.get(2, VT_STRING)
    if vt == VT_STRING:
        raw = t.get(3, b"")
        return raw.decode("utf-8") if isinstance(raw, bytes) else str(raw)
    if vt == VT_DOUBLE:
        return repr(t.get(4, 0.0))
    if vt == VT_BOOL:
        return "true" if t.get(5, False) else "false"
    if vt == VT_LONG:
        return str(t.get(6, 0))
    raw = t.get(7, b"")
    return raw.hex() if isinstance(raw, bytes) else str(raw)


def generate_jaeger_batches(events: DataFrame, shards: int = 4) -> DataFrame:
    """Render events as deterministic jaeger Batches, one per
    (event_type, shard = event_id % shards).  Closed-form per event:
    traceIdLow = user_id*100000 + eid, traceIdHigh = 42 on even eids
    else 0, spanId = eid + 1, parentSpanId = eid % 4 (0 = root),
    operationName op<eid % 7>, flags 1, startTime = unix micros,
    duration = round(value*1000) + 1, and on even eids tags
    [code:LONG eid % 4, ok:BOOL (eid % 3 == 0)].  Process carries
    serviceName 'svc-<event_type>' and a host STRING tag.
    Emits ``(service, shard, body binary)``."""
    import pandas as pd

    prepared = events.select(
        F.col("event_type").alias("etype"),
        (F.col("event_id") % shards).alias("shard"),
        F.col("event_id").alias("eid"),
        F.col("user_id").alias("uid"),
        (F.round(F.col("value") * 1000).cast("long") + 1).alias("dur"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("eid")
        etype = str(pdf["etype"].iloc[0])
        shard = int(pdf["shard"].iloc[0])
        proc = FieldWriter()
        proc.string(1, f"svc-{etype}")
        proc.list_of_structs(2, [_tag("host", VT_STRING, f"h{shard}")])
        spans = []
        for eid, uid, dur, us in zip(pdf["eid"], pdf["uid"], pdf["dur"], pdf["us"]):
            eid, uid, dur, us = int(eid), int(uid), int(dur), int(us)
            w = FieldWriter()
            w.i64(1, uid * 100000 + eid)
            w.i64(2, 42 if eid % 2 == 0 else 0)
            w.i64(3, eid + 1)
            w.i64(4, eid % 4)
            w.string(5, f"op{eid % 7}")
            w.i32(7, 1)
            w.i64(8, us)
            w.i64(9, dur)
            if eid % 2 == 0:
                w.list_of_structs(
                    10,
                    [
                        _tag("code", VT_LONG, eid % 4),
                        _tag("ok", VT_BOOL, eid % 3 == 0),
                    ],
                )
            spans.append(w.stop())
        batch = FieldWriter()
        batch.struct(1, proc.stop())
        batch.list_of_structs(2, spans)
        return pd.DataFrame(
            {"service": [f"svc-{etype}"], "shard": [shard],
             "body": [batch.stop()]}
        )

    return prepared.groupBy("etype", "shard").applyInPandas(
        _pack, schema="service string, shard long, body binary"
    )


def decode_jaeger_batches(df: DataFrame, body_col: str = "body") -> DataFrame:
    """Decode jaeger Batch blobs into one row per span: ``(service,
    trace_id, span_id, parent_span_id, name, flags, start_us, dur_us,
    tags map<string,string>, valid)``.  parentSpanId 0 -> NULL;
    process-level tags fold into every span's map under a ``process.``
    prefix (the receiver's resource-attribute translation)."""
    mask = (1 << 64) - 1

    def _spans(body: bytes):
        batch, pos = read_struct(body, 0)
        if pos != len(body):
            raise ValueError("trailing bytes after Batch")
        proc = batch.get(1, {})
        svc_raw = proc.get(1, b"")
        svc = (
            svc_raw.decode("utf-8")
            if isinstance(svc_raw, bytes)
            else str(svc_raw)
        )
        ptags = {
            "process." + t.get(1, b"").decode("utf-8"): _tag_value_str(t)
            for t in proc.get(2, [])
        }
        for s in batch.get(2, []):
            tags = dict(ptags)
            for t in s.get(10, []):
                tags[t.get(1, b"").decode("utf-8")] = _tag_value_str(t)
            parent = s.get(4, 0)
            yield {
                "service": svc,
                "trace_id": f"{s.get(2, 0) & mask:016x}"
                f"{s.get(1, 0) & mask:016x}",
                "span_id": f"{s.get(3, 0) & mask:016x}",
                "parent_span_id": (
                    f"{parent & mask:016x}" if parent else None
                ),
                "name": s.get(5, b"").decode("utf-8"),
                "flags": s.get(7, 0),
                "start_us": s.get(8, 0),
                "dur_us": s.get(9, 0),
                "tags": tags,
                "valid": True,
            }

    return decode_bodies(
        df,
        body_col,
        "service string, trace_id string, span_id string, "
        "parent_span_id string, name string, flags long, start_us long, "
        "dur_us long, tags map<string, string>, valid boolean",
        _spans,
        (ValueError, TypeError, KeyError, IndexError, AttributeError,
         UnicodeDecodeError),
    )
