"""CBOR telemetry intake — RFC 8949 record streams in, typed rows out.

Distributed wrapper over ``functions/cbor_codec.py``: shards of
back-to-back CBOR items (the CoAP/IoT and COSE-adjacent wire this codec
exists for) decode per blob through
``sources/decoders.py::decode_bodies``, the same intake shape as the
msgpack-forward and Avro OCF sources.  The fixture generator renders
events with the repo's own canonical encoder and the decoder walks them
back — both directions of the codec under one gate,
with epoch timestamps carried as tag 1 (RFC 8949 §3.4.2)."""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decoders import decode_bodies


def generate_cbor_bodies(events: DataFrame, shards: int = 8) -> DataFrame:
    """Events -> one blob of concatenated canonical CBOR items per shard
    (= event_id % shards), sorted by event_id.  Record shape:
    ``{"eid", "type", "v" (double, None when eid % 11 == 0),
    "ts" Tag(1, epoch_sec), "ks" [k, k % 7], "m" {"u": uid}}``."""
    import pandas as pd

    from ..functions.cbor_codec import Tag, encode

    prepared = events.select(
        (F.col("event_id") % shards).alias("shard"),
        F.col("event_id").alias("eid"),
        F.col("user_id").alias("uid"),
        F.col("event_type").alias("etype"),
        F.col("value").alias("val"),
        F.expr("unix_timestamp(ts)").alias("epoch"),
        F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1)
        .try_cast("long")
        .alias("k"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("eid")
        out = bytearray()
        for eid, uid, etype, val, epoch, k in zip(
            pdf["eid"], pdf["uid"], pdf["etype"], pdf["val"], pdf["epoch"],
            pdf["k"],
        ):
            eid, uid, epoch = int(eid), int(uid), int(epoch)
            kk = 0 if pd.isna(k) else int(k)
            out += encode(
                {
                    "eid": eid,
                    "type": str(etype),
                    "v": None if eid % 11 == 0 else float(val),
                    "ts": Tag(1, epoch),
                    "ks": [kk, kk % 7],
                    "m": {"u": uid},
                }
            )
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "body": [bytes(out)]}
        )

    return prepared.groupBy("shard").applyInPandas(
        _pack, schema="shard long, body binary"
    )


def decode_cbor_bodies(df: DataFrame, body_col: str = "body") -> DataFrame:
    """CBOR item streams -> ``(eid, etype, v, epoch, k_sum, uid, valid)``;
    a malformed stream yields one valid=false row for its blob (and
    none of the records before the tear); a NULL blob yields no rows."""
    from ..functions.cbor_codec import Tag, decode_prefix

    def _records(buf: bytes) -> list[dict]:
        pos = 0
        rows = []
        while pos < len(buf):
            rec, pos = decode_prefix(buf, pos)
            ts = rec["ts"]
            if not (isinstance(ts, Tag) and ts.tag == 1):
                raise ValueError("ts must be an epoch tag 1")
            rows.append(
                {
                    "eid": rec["eid"],
                    "etype": rec["type"],
                    "v": rec["v"],
                    "epoch": ts.value,
                    "k_sum": sum(rec["ks"]),
                    "uid": rec["m"]["u"],
                    "valid": True,
                }
            )
        return rows

    return decode_bodies(
        df,
        body_col,
        "eid long, etype string, v double, epoch long, k_sum long, "
        "uid long, valid boolean",
        _records,
        (ValueError, TypeError, KeyError, IndexError, struct.error,
         UnicodeDecodeError),
    )
