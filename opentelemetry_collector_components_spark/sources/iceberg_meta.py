"""Iceberg snapshot resolution — metadata.json -> manifest list ->
manifests, without the Iceberg jars.

The write path in ``plans/sinks.py`` is environment-gated (no Iceberg
runtime in the container); the READ side needs no engine at all — an
Iceberg table is just files in an object store (public Iceberg table
spec, iceberg.apache.org/spec):

- ``metadata.json``: table-level doc with ``snapshots`` and
  ``current-snapshot-id``; each snapshot names a ``manifest-list``.
- the manifest list is an AVRO container of ``manifest_file`` records
  (``manifest_path``, ``manifest_length``, ``added_snapshot_id``).
- each manifest is an AVRO container of ``manifest_entry`` records:
  ``status`` (0 EXISTING / 1 ADDED / 2 DELETED), ``snapshot_id``, and
  a ``data_file`` record (``file_path``, ``file_format``,
  ``record_count``, ``file_size_in_bytes``).
- the live file set of a snapshot = every entry in its manifest list
  with status != DELETED.

Both AVRO levels ride ``functions/avro_codec.py`` — the same pure-
Python container reader the Kafka-export intake uses, so this closes
the "read an Iceberg table's file inventory without a catalog" gap
beside the Delta log replay.

Scale shape: the metadata doc is ONE small json (driver-parsed); the
manifest list is decoded to a manifest-path frame; manifests decode
per blob through ``sources/decoders.py::decode_bodies`` after a
broadcast-joined blob lookup — entries never
collect to the driver.  The generator collects only the 4 manifest
lengths (small-by-construction, same class as the PQ seeds).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decoders import decode_bodies

MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}

MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ],
            },
        },
    ],
}

_SYNC = b"icebergfixture!!"  # 16 bytes, deterministic


def resolve_iceberg_snapshot(
    metadata_json: str, blobs: DataFrame, snapshot_id: int | None = None
) -> DataFrame:
    """Live files of the current (or given) snapshot: ``(file_path,
    file_format, record_count, file_size_in_bytes, status,
    manifest_path)``.  ``blobs`` is the object-store stand-in:
    ``(path string, content binary)``."""
    from ..functions.avro_codec import read_container

    meta = json.loads(metadata_json)
    sid = snapshot_id if snapshot_id is not None else meta["current-snapshot-id"]
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    if sid not in by_id:
        raise ValueError(f"snapshot {sid} not in metadata")
    ml_path = by_id[sid]["manifest-list"]

    def _manifest_paths(content: bytes) -> list[dict]:
        _, recs = read_container(content)
        return [{"manifest_path": r["manifest_path"]} for r in recs]

    ml_blob = blobs.where(F.col("path") == ml_path)
    if ml_blob.limit(1).count() == 0:
        # an EMPTY manifest list is a legal empty snapshot; a MISSING
        # blob is store corruption and must not read as "no files"
        raise ValueError(f"manifest list {ml_path} not found in store")
    manifests = decode_bodies(
        ml_blob, "content", "manifest_path string", _manifest_paths
    )
    manifest_blobs = blobs.join(
        F.broadcast(manifests.withColumnRenamed("manifest_path", "path")),
        "path",
    )

    def _entries(path: str, content: bytes) -> list[dict]:
        _, recs = read_container(content)
        return [
            r["data_file"] | {"status": r["status"], "manifest_path": path}
            for r in recs
        ]

    entries = decode_bodies(
        manifest_blobs,
        ["path", "content"],
        "file_path string, file_format string, record_count long, "
        "file_size_in_bytes long, status int, manifest_path string",
        _entries,
    )
    return entries.where(F.col("status") != 2)


def generate_iceberg_table(
    events: DataFrame, n_files: int = 120
) -> tuple[str, DataFrame]:
    """A deterministic two-snapshot table -> (metadata_json, blobs):

    - data files per bucket i = event_id % n_files (record_count,
      size = Σ round(value*100) closed-form);
    - snapshot 1: three manifests ``m1-<m>`` (by i % 3), all entries
      ADDED, listed by ``ml-1.avro`` — resolving snapshot 1 yields all
      ``part-<i>`` originals;
    - snapshot 2 (current): rewritten manifests ``m-<m>`` with
      i % 5 == 0 entries flipped to DELETED (compaction inputs), plus
      one manifest of ``merged-<i>.parquet`` replacements ADDED, listed
      by ``ml-2.avro``.

    Live set at snapshot 2 = originals with i % 5 != 0 + replacements.
    """
    import pandas as pd

    from ..caching import maybe_persist
    from ..functions.avro_codec import write_container

    files = events.groupBy((F.col("event_id") % n_files).alias("i")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("size"),
        F.count(F.lit(1)).alias("rows"),
    )
    prepared = files.select(
        "i", "size", "rows", (F.col("i") % 3).alias("m")
    )

    def _manifest(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("i")
        m = int(pdf["m"].iloc[0])
        recs = [
            {
                "status": 2 if i % 5 == 0 else 0,
                "snapshot_id": 2,
                "data_file": {
                    "file_path": f"data/part-{int(i)}.parquet",
                    "file_format": "PARQUET",
                    "record_count": int(rows),
                    "file_size_in_bytes": int(size),
                },
            }
            for i, size, rows in zip(pdf["i"], pdf["size"], pdf["rows"])
        ]
        blob = write_container(MANIFEST_ENTRY_SCHEMA, recs, _SYNC)
        return pd.DataFrame({"path": [f"meta/m-{m}.avro"], "content": [blob]})

    def _manifest_s1(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("i")
        m = int(pdf["m"].iloc[0])
        recs = [
            {
                "status": 1,
                "snapshot_id": 1,
                "data_file": {
                    "file_path": f"data/part-{int(i)}.parquet",
                    "file_format": "PARQUET",
                    "record_count": int(rows),
                    "file_size_in_bytes": int(size),
                },
            }
            for i, size, rows in zip(pdf["i"], pdf["size"], pdf["rows"])
        ]
        blob = write_container(MANIFEST_ENTRY_SCHEMA, recs, _SYNC)
        return pd.DataFrame({"path": [f"meta/m1-{m}.avro"], "content": [blob]})

    def _replacements(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("i")
        recs = [
            {
                "status": 1,
                "snapshot_id": 2,
                "data_file": {
                    "file_path": f"data/merged-{int(i)}.parquet",
                    "file_format": "PARQUET",
                    "record_count": int(rows),
                    "file_size_in_bytes": int(size),
                },
            }
            for i, size, rows in zip(pdf["i"], pdf["size"], pdf["rows"])
        ]
        blob = write_container(MANIFEST_ENTRY_SCHEMA, recs, _SYNC)
        return pd.DataFrame({"path": ["meta/m-merged.avro"], "content": [blob]})

    manifests = prepared.groupBy("m").applyInPandas(
        _manifest, schema="path string, content binary"
    )
    manifests_s1 = prepared.groupBy("m").applyInPandas(
        _manifest_s1, schema="path string, content binary"
    )
    merged = (
        prepared.where(F.col("i") % 5 == 0)
        .withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandas(_replacements, schema="path string, content binary")
    )
    blobs = maybe_persist(manifests.unionByName(manifests_s1).unionByName(merged))
    # each manifest list needs its manifests' byte lengths — 7 rows,
    # small-by-construction
    lengths = {r["path"]: len(r["content"]) for r in blobs.collect()}
    ml1_recs = [
        {"manifest_path": p, "manifest_length": n, "added_snapshot_id": 1}
        for p, n in sorted(lengths.items())
        if p.startswith("meta/m1-")
    ]
    ml2_recs = [
        {"manifest_path": p, "manifest_length": n, "added_snapshot_id": 2}
        for p, n in sorted(lengths.items())
        if not p.startswith("meta/m1-")
    ]
    spark = events.sparkSession
    ml_df = spark.createDataFrame(
        [
            (
                "meta/ml-1.avro",
                bytearray(write_container(MANIFEST_FILE_SCHEMA, ml1_recs, _SYNC)),
            ),
            (
                "meta/ml-2.avro",
                bytearray(write_container(MANIFEST_FILE_SCHEMA, ml2_recs, _SYNC)),
            ),
        ],
        "path string, content binary",
    )
    metadata = json.dumps(
        {
            "format-version": 2,
            "current-snapshot-id": 2,
            "snapshots": [
                {"snapshot-id": 1, "manifest-list": "meta/ml-1.avro"},
                {"snapshot-id": 2, "manifest-list": "meta/ml-2.avro"},
            ],
        }
    )
    return metadata, blobs.unionByName(ml_df)
