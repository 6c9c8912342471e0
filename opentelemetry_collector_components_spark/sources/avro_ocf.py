"""Avro Object Container File intake — distributed encode/decode.

Spark integration for ``functions/avro_codec.py``: a fleet exporting
Kafka topics or NiFi flows hands the collector ``.avro`` container
blobs; the intake must parse the header (writer schema + codec), walk
the sync-framed blocks, inflate deflate payloads, and type the records
— before any of the existing parse/enrich/route stages see rows.

Scale shape mirrors the GELF/forward generators and the PRW decoder:
encode packs each shard's records into ONE container blob inside an
applyInPandas task (shards bound group size); decode runs per body
through ``sources/decoders.py::decode_bodies`` — embarrassingly
parallel, no shuffle after the scan, undecodable blobs surface as
``valid = false`` rows and NULL bodies yield no rows (the repo-wide
intake contract).
"""

from __future__ import annotations

import hashlib
import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decoders import decode_bodies

EVENT_SCHEMA = {
    "type": "record",
    "name": "Event",
    "fields": [
        {"name": "eid", "type": "long"},
        {"name": "uid", "type": "long"},
        {
            "name": "etype",
            "type": {
                "type": "enum",
                "name": "EventType",
                "symbols": ["click", "error", "purchase", "signup", "view"],
            },
        },
        {"name": "vm", "type": "long"},
        {"name": "knum", "type": ["null", "long"]},
        {"name": "tags", "type": {"type": "map", "values": "string"}},
    ],
}


def generate_avro_containers(events: DataFrame, shards: int = 8) -> DataFrame:
    """Render events as deterministic OCF blobs, one per shard
    (= event_id % shards): records sort by event_id; even shards use the
    null codec, odd shards deflate; sync marker = md5 of the shard id.
    Record fields: eid, uid, etype (enum), vm = round(value*100),
    knum = the props "k" number but NULL when eid % 7 == 0 (exercising
    the nullable union), tags = {"u": "u<uid % 10>"} on even eids else
    empty.  Emits ``(shard, body binary)``."""
    import pandas as pd

    from ..functions.avro_codec import write_container

    prepared = events.select(
        (F.col("event_id") % shards).alias("shard"),
        F.col("event_id").alias("eid"),
        F.col("user_id").alias("uid"),
        F.col("event_type").alias("etype"),
        F.round(F.col("value") * 100).cast("long").alias("vm"),
        F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1)
        .try_cast("long")
        .alias("k"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("eid")
        shard = int(pdf["shard"].iloc[0])
        recs = []
        for eid, uid, etype, vm, k in zip(
            pdf["eid"], pdf["uid"], pdf["etype"], pdf["vm"], pdf["k"]
        ):
            eid, uid, vm = int(eid), int(uid), int(vm)
            recs.append(
                {
                    "eid": eid,
                    "uid": uid,
                    "etype": str(etype),
                    "vm": vm,
                    "knum": None if eid % 7 == 0 or pd.isna(k) else int(k),
                    "tags": {"u": f"u{uid % 10}"} if eid % 2 == 0 else {},
                }
            )
        body = write_container(
            EVENT_SCHEMA,
            recs,
            sync=hashlib.md5(f"sync{shard}".encode()).digest(),
            codec="null" if shard % 2 == 0 else "deflate",
            block_records=100,
        )
        return pd.DataFrame({"shard": [shard], "body": [body]})

    return prepared.groupBy("shard").applyInPandas(
        _pack, schema="shard long, body binary"
    )


def decode_avro_containers(df: DataFrame, body_col: str = "body") -> DataFrame:
    """Decode OCF blobs into one typed row per record:
    ``(eid, uid, etype, vm, knum, tags, valid)``.  The writer schema
    travels IN the header — this reader requires the Event shape above
    (same single-schema contract as the PRW/OTLP decoders); a blob that
    fails to parse yields one ``valid = false`` row."""
    from ..functions.avro_codec import read_container

    def _records(body: bytes):
        _, recs = read_container(body)
        for r in recs:
            yield {
                "eid": r["eid"],
                "uid": r["uid"],
                "etype": r["etype"],
                "vm": r["vm"],
                "knum": r["knum"],
                "tags": r["tags"],
                "valid": True,
            }

    return decode_bodies(
        df,
        body_col,
        "eid long, uid long, etype string, vm long, knum long, "
        "tags map<string, string>, valid boolean",
        _records,
        (ValueError, TypeError, KeyError, IndexError, struct.error,
         zlib.error, EOFError),
    )


READER_SCHEMA_V2 = {
    # the evolved consumer: uid and tags REMOVED (writer-only, skipped),
    # vm PROMOTED long -> double, region ADDED with a default — the
    # standard topic-evolution moves, resolved per Avro spec rules
    "type": "record",
    "name": "Event",
    "fields": [
        {"name": "eid", "type": "long"},
        {
            "name": "etype",
            "type": {
                "type": "enum",
                "name": "EventType",
                "symbols": ["click", "error", "purchase", "signup", "view"],
            },
        },
        {"name": "vm", "type": "double"},
        {"name": "knum", "type": ["null", "long"]},
        {"name": "region", "type": "string", "default": "emea"},
    ],
}


def decode_avro_containers_resolved(
    df: DataFrame, reader_schema: dict | None = None, body_col: str = "body"
) -> DataFrame:
    """OCF decode THROUGH a reader schema (functions/avro_codec.py::
    read_container_resolved): the blob's embedded schema is the writer;
    evolution rules — skipped writer-only fields, defaulted reader-only
    fields, primitive promotions, enum/union resolution — apply per
    record.  Emits ``(eid, etype, vm, knum, region, valid)``; a torn or
    irresolvable blob yields one valid=false row (same leniency contract
    as decode_avro_containers)."""
    from ..functions.avro_codec import read_container_resolved

    reader = reader_schema or READER_SCHEMA_V2

    def _records(body: bytes):
        _, recs = read_container_resolved(body, reader)
        for r in recs:
            yield r | {"valid": True}

    return decode_bodies(
        df,
        body_col,
        "eid long, etype string, vm double, knum long, region string, "
        "valid boolean",
        _records,
        (ValueError, TypeError, KeyError, IndexError, struct.error,
         UnicodeDecodeError, zlib.error),
    )


def decode_confluent_frames(
    df: DataFrame,
    schemas_by_id: dict[int, dict],
    body_col: str = "body",
    reader_schema: dict | None = None,
) -> DataFrame:
    """Confluent Schema-Registry wire format (public framing: magic byte
    0x00 + big-endian int32 schema id + bare Avro binary — NO container):
    the per-message shape every Kafka topic with registry-managed Avro
    carries.  ``schemas_by_id`` is the registry stand-in (writer schemas
    keyed by id); when ``reader_schema`` is given, each record resolves
    through it (``resolve_read`` evolution rules), else it decodes with
    its writer schema.

    Emits ``(schema_id, record map<string,string>, valid)`` — values
    stringified for schema-genericity (the forward-protocol contract);
    bad magic, unknown ids, or torn payloads yield valid=false rows."""
    from ..functions.avro_codec import decode_value, resolve_read

    def _frame(body: bytes) -> list[dict]:
        if len(body) < 5 or body[0] != 0:
            raise ValueError("bad confluent magic byte")
        sid = int.from_bytes(body[1:5], "big")
        writer = schemas_by_id.get(sid)
        if writer is None:
            raise ValueError(f"unknown schema id {sid}")
        if reader_schema is not None:
            rec, end = resolve_read(body, 5, writer, reader_schema)
        else:
            rec, end = decode_value(body, 5, writer)
        if end != len(body):
            raise ValueError("trailing bytes after avro record")
        if not isinstance(rec, dict):  # a registry may hold non-record
            raise ValueError("confluent frame schema is not a record")
        return [
            {
                "schema_id": sid,
                "record": {
                    k: None if v is None else str(v) for k, v in rec.items()
                },
                "valid": True,
            }
        ]

    return decode_bodies(
        df,
        body_col,
        "schema_id int, record map<string, string>, valid boolean",
        _frame,
        (ValueError, TypeError, KeyError, IndexError, AttributeError,
         struct.error, UnicodeDecodeError),
    )
