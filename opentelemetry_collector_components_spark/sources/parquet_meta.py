"""Parquet footer metadata parse — pure-Python, on the thrift codec.

A parquet file ends ``<FileMetaData (thrift compact)> <u32 LE length>
"PAR1"`` (public parquet-format spec); the footer alone carries the
schema, row counts, and per-column-chunk sizes/offsets/codecs that
planning needs — scan pruning, compaction sizing, layout audits — all
WITHOUT touching data pages.  The generic compact-protocol reader
built for Jaeger (``functions/thrift_compact.py``) decodes it
directly; this module maps the public IDL field ids:

    FileMetaData { 1: version, 2: schema list<SchemaElement>,
                   3: num_rows, 4: row_groups list<RowGroup>,
                   6: created_by }
    SchemaElement { 1: type, 4: name, 5: num_children }
    RowGroup  { 1: columns list<ColumnChunk>, 2: total_byte_size,
                3: num_rows }
    ColumnChunk { 2: file_offset, 3: meta_data ColumnMetaData }
    ColumnMetaData { 1: type, 3: path_in_schema list<string>,
                     4: codec, 5: num_values,
                     6: total_uncompressed_size,
                     7: total_compressed_size }

The oracle for this path is DuckDB's OWN ``parquet_metadata()`` — a
fully independent implementation — so the gate cross-validates two
readers of the same public format byte-for-byte.

Scale shape: ``spark.read.format("binaryFile")`` distributes files to
tasks; footer parse runs per file through
``sources/decoders.py::decode_bodies`` (the footer is the LAST
kilobytes — a production variant would range-read; the fixture files
are small, documented).  One row per column chunk.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from ..functions.thrift_compact import read_struct
from .decoders import decode_bodies

_CODECS = {
    0: "UNCOMPRESSED", 1: "SNAPPY", 2: "GZIP", 3: "LZO",
    4: "BROTLI", 5: "LZ4", 6: "ZSTD", 7: "LZ4_RAW",
}


def parse_footer(data: bytes) -> dict:
    """File bytes -> {"num_rows", "created_by", "columns": [...]} with
    one entry per (row_group, column chunk)."""
    if len(data) < 12 or data[-4:] != b"PAR1":
        raise ValueError("not a parquet file (missing PAR1 trailer)")
    (flen,) = struct.unpack_from("<I", data, len(data) - 8)
    start = len(data) - 8 - flen
    if start < 4:
        raise ValueError("parquet footer length out of range")
    meta, _ = read_struct(data[start : len(data) - 8], 0)
    out = {
        "num_rows": meta.get(3, 0),
        "created_by": (meta.get(6) or b"").decode("utf-8", "replace"),
        "columns": [],
    }
    for rg_id, rg in enumerate(meta.get(4, [])):
        for chunk in rg.get(1, []):
            cm = chunk.get(3, {})
            path = ".".join(
                p.decode("utf-8") for p in cm.get(3, [])
            )
            stats = cm.get(12, {})  # Statistics: 5 max_value, 6 min_value
            out["columns"].append(
                {
                    "row_group_id": rg_id,
                    "rg_num_rows": rg.get(3, 0),
                    "path_in_schema": path,
                    "codec": _CODECS.get(cm.get(4, -1), f"UNKNOWN_{cm.get(4)}"),
                    "num_values": cm.get(5, 0),
                    "total_uncompressed_size": cm.get(6, 0),
                    "total_compressed_size": cm.get(7, 0),
                    "min_value": stats.get(6),
                    "max_value": stats.get(5),
                    "null_count": stats.get(3),
                }
            )
    return out


def stat_int64(raw: bytes | None) -> int | None:
    """Decode a Statistics min_value/max_value blob for an INT64 column
    (PLAIN little-endian per the spec); None passes through."""
    if raw is None:
        return None
    if len(raw) != 8:
        raise ValueError(f"int64 statistic must be 8 bytes, got {len(raw)}")
    return struct.unpack("<q", raw)[0]


def rowgroup_zone_maps(spark, paths, column: str) -> "DataFrame":
    """REAL zone maps from REAL footers: one row per (file, row group)
    with the column's decoded int64 min/max — the manifest
    ``operators/skipping.py::prune_scan`` consumes, read without
    touching a single data page.  ``(file_name, file_id, n_rows,
    <column>_min, <column>_max)``."""
    import os

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("file_name", StringType()),
            StructField("file_id", LongType()),
            StructField("n_rows", LongType()),
            StructField(f"{column}_min", LongType()),
            StructField(f"{column}_max", LongType()),
        ]
    )
    files = spark.read.format("binaryFile").load(paths)

    def _zones(path: str, content: bytes):
        name = os.path.basename(path)
        for c in parse_footer(content)["columns"]:
            if c["path_in_schema"] != column:
                continue
            mn = stat_int64(c["min_value"])
            mx = stat_int64(c["max_value"])
            if mn is None or mx is None:
                # ABSENT statistics are not "all NULL": prune_scan treats
                # a NULL envelope as skippable, which here would silently
                # drop live rows.  Only a group the footer PROVES all-NULL
                # keeps the NULL envelope; anything else gets the
                # conservative full range (always overlaps -> must_read).
                if c["null_count"] == c["rg_num_rows"]:
                    mn = mx = None
                else:
                    mn, mx = -(1 << 63), (1 << 63) - 1
            yield {
                "file_name": name,
                "file_id": c["row_group_id"],
                "n_rows": c["rg_num_rows"],
                f"{column}_min": mn,
                f"{column}_max": mx,
            }

    return decode_bodies(files, ["path", "content"], schema, _zones)


def parquet_footer_columns(
    spark, paths: list[str]
) -> DataFrame:
    """Distributed footer scan: one row per column chunk across
    ``paths`` (globs ok) — ``(file_name, row_group_id, rg_num_rows,
    path_in_schema, codec, num_values, total_uncompressed_size,
    total_compressed_size, valid)``."""
    import os

    files = spark.read.format("binaryFile").load(paths)

    def _chunks(path: str, content: bytes) -> list[dict]:
        # the invalid row keeps the file name, so the codec builds it
        name = os.path.basename(path)
        try:
            meta = parse_footer(content)
            return [
                {"file_name": name, "valid": True, **c}
                for c in meta["columns"]
            ]
        except (ValueError, TypeError, KeyError, IndexError, struct.error,
                UnicodeDecodeError):
            return [{"file_name": name, "valid": False}]

    return decode_bodies(
        files,
        ["path", "content"],
        "file_name string, row_group_id long, rg_num_rows long, "
        "path_in_schema string, codec string, num_values long, "
        "total_uncompressed_size long, total_compressed_size long, "
        "valid boolean",
        _chunks,
    )
