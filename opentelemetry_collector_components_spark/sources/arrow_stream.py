"""Arrow IPC stream intake — blobs in, typed rows out.

Distributed wrapper over ``functions/arrow_ipc.py``: IPC stream blobs
(Flight dumps, Feather payloads, cross-process handoffs) decode per blob
through ``sources/decoders.py::decode_bodies``, same shape as the Avro
OCF and PRW intakes.  The fixture generator renders events per shard with pyarrow
(the ubiquitous writer — the pure-Python DECODER is the artifact under
test, cross-validated against it by construction)."""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decoders import decode_bodies


def generate_arrow_streams(events: DataFrame, shards: int = 8) -> DataFrame:
    """Events -> one IPC stream blob per shard (= event_id % shards),
    records sorted by event_id, 100-row record batches, fields
    (eid int64, etype utf8, vm int64 nullable, val float64, ts_us
    timestamp[us]): vm = round(value*100) but NULL when eid % 9 == 0
    (exercising validity bitmaps)."""
    import io

    import pandas as pd
    import pyarrow as pa

    prepared = events.select(
        (F.col("event_id") % shards).alias("shard"),
        F.col("event_id").alias("eid"),
        F.col("event_type").alias("etype"),
        F.round(F.col("value") * 100).cast("long").alias("vm"),
        F.col("value").alias("val"),
        F.col("ts").alias("ts"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("eid")
        shard = int(pdf["shard"].iloc[0])
        vm = [
            None if int(e) % 9 == 0 else int(v)
            for e, v in zip(pdf["eid"], pdf["vm"])
        ]
        t = pa.table(
            {
                "eid": pa.array([int(x) for x in pdf["eid"]], type=pa.int64()),
                "etype": pa.array([str(x) for x in pdf["etype"]]),
                "vm": pa.array(vm, type=pa.int64()),
                "val": pa.array([float(x) for x in pdf["val"]], type=pa.float64()),
                "ts_us": pa.array(
                    (pdf["ts"].astype("int64") // 1000).tolist(),
                    type=pa.timestamp("us"),
                ),
            }
        )
        sink = io.BytesIO()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t, max_chunksize=100)
        return pd.DataFrame({"shard": [shard], "body": [sink.getvalue()]})

    return prepared.groupBy("shard").applyInPandas(
        _pack, schema="shard long, body binary"
    )


def decode_arrow_streams(df: DataFrame, body_col: str = "body") -> DataFrame:
    """IPC blobs -> ``(eid, etype, vm, val, ts_us, valid)``; a torn or
    unsupported blob yields one valid=false row (intake leniency
    contract); a NULL blob yields no rows."""
    from ..functions.arrow_ipc import decode_arrow_stream

    def _records(body: bytes):
        d = decode_arrow_stream(body)
        for i in range(len(d["eid"])):
            yield {
                "eid": d["eid"][i],
                "etype": d["etype"][i],
                "vm": d["vm"][i],
                "val": d["val"][i],
                "ts_us": d["ts_us"][i],
                "valid": True,
            }

    return decode_bodies(
        df,
        body_col,
        "eid long, etype string, vm long, val double, ts_us long, "
        "valid boolean",
        _records,
        (ValueError, TypeError, KeyError, IndexError, AttributeError,
         struct.error, UnicodeDecodeError),
    )
