"""Fluentd forward protocol — msgpack transport decode.

The wire fluentd / fluent-bit ship logs over (public forward protocol
v1 spec): each message is a msgpack array ``[tag, entries, option]``
where entries come in three modes —

- **Forward**: entries is a msgpack array of ``[time, record]`` pairs
- **PackedForward**: entries is a msgpack *bin* holding the
  concatenation of individually-packed ``[time, record]`` values
  (a msgpack stream; fluentd's high-throughput default)
- **CompressedPackedForward**: the same bin gzip-compressed, declared
  by ``option = {"compressed": "gzip"}``

``time`` is either a plain integer (seconds) or Fluentd's EventTime
ext (type 0: big-endian u32 seconds + u32 nanoseconds) for sub-second
precision.  ``record`` is a string-keyed map.

This closes the log-shipper slot of the transport matrix next to
syslog/GELF/CEF/statsd/prometheus-text and the OTLP + PRW binary
wires, with the same intake contract as the reference's decoders
(receiver/elasticapmintakereceiver: undecodable input surfaces as
error rows, never a silent drop) — here a message that fails to
unpack yields one row with ``valid = false`` and NULL fields.

Scale shape: encode packs each (tag, shard) group in one applyInPandas
task — shards bound group size, the same contract as the GELF chunk
generator; decode runs per body through
``sources/decoders.py::decode_bodies`` (Arrow batches in, Arrow batches
out), embarrassingly parallel, no shuffle after the scan.
"""

from __future__ import annotations

import gzip
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decoders import decode_bodies


def generate_forward_messages(events: DataFrame, shards: int = 6) -> DataFrame:
    """Render events as deterministic forward-protocol messages, one per
    (tag, shard): tag = ``app.<event_type>``, shard = event_id % shards,
    mode = shard % 3 (Forward / PackedForward / CompressedPackedForward).
    Entries sort by event_id; even event_ids carry EventTime ext
    (sec = unix_micros // 1e6, nsec = micros-remainder * 1000), odd a
    plain integer second.  record = {eid, uid, vm=round(value*100)}.
    Emits ``(tag, shard, body binary)``.
    """
    import pandas as pd

    from ..functions.msgpack_codec import event_time, pack

    prepared = events.select(
        F.concat(F.lit("app."), F.col("event_type")).alias("tag"),
        (F.col("event_id") % shards).alias("shard"),
        F.col("event_id").alias("eid"),
        F.col("user_id").alias("uid"),
        F.round(F.col("value") * 100).cast("long").alias("vm"),
        # ts is TIMESTAMP_NTZ in the fixtures; session TZ is pinned UTC,
        # so the cast to TIMESTAMP is identity and unix_micros is exact.
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )

    def _pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("eid")
        tag = str(pdf["tag"].iloc[0])
        mode = int(pdf["shard"].iloc[0]) % 3
        entries = []
        for eid, uid, vm, us in zip(pdf["eid"], pdf["uid"], pdf["vm"], pdf["us"]):
            sec, rem = divmod(int(us), 1_000_000)
            t = event_time(sec, rem * 1000) if eid % 2 == 0 else sec
            entries.append([t, {"eid": int(eid), "uid": int(uid), "vm": int(vm)}])
        option = {"size": len(entries)}
        if mode == 0:
            body = pack([tag, entries, option])
        else:
            stream = b"".join(pack(e) for e in entries)
            if mode == 2:
                stream = gzip.compress(stream, mtime=0)
                option["compressed"] = "gzip"
            body = pack([tag, stream, option])
        return pd.DataFrame(
            {"tag": [tag], "shard": [int(pdf["shard"].iloc[0])], "body": [body]}
        )

    return prepared.groupBy("tag", "shard").applyInPandas(
        _pack_group, schema="tag string, shard long, body binary"
    )


def decode_forward(df: DataFrame, body_col: str = "body") -> DataFrame:
    """Decode forward-protocol message bodies into one row per log
    entry: ``(tag, time_s, time_ns, record map<string,string>, valid)``
    — record values stringified (fluentd records carry arbitrary
    scalars; numeric consumers cast back).
    All three entry modes are auto-detected from the wire (array →
    Forward, bin → PackedForward, gunzip first when the option map
    says ``compressed: gzip``).  A body that fails to unpack yields
    one ``valid = false`` row with NULL fields."""
    from ..functions.msgpack_codec import Ext, ext_to_time, unpack, unpack_stream

    def _entries(body: bytes):
        msg = unpack(body)
        tag, payload = msg[0], msg[1]
        option = msg[2] if len(msg) > 2 else None
        if option is not None and not isinstance(option, dict):
            raise ValueError("forward option must be a map")
        if isinstance(payload, bytes):
            if option and option.get("compressed") == "gzip":
                payload = gzip.decompress(payload)
            entries = unpack_stream(payload)
        else:
            entries = payload
        for t, rec in entries:
            if isinstance(t, Ext):
                sec, nsec = ext_to_time(t)
            else:
                sec, nsec = int(t), 0
            yield {
                "tag": tag,
                "time_s": sec,
                "time_ns": nsec,
                # records carry arbitrary scalars (the normal fluentd log
                # has a string "message") — stringify, never int()
                "record": {str(k): str(v) for k, v in rec.items()},
                "valid": True,
            }

    return decode_bodies(
        df,
        body_col,
        "tag string, time_s long, time_ns long, "
        "record map<string, string>, valid boolean",
        _entries,
        (ValueError, TypeError, IndexError, OSError, EOFError, zlib.error),
    )
