"""Geohash encoding — base32 spatial bucketing (Niemeyer 2008).

The geo counterpart of ``layout.zorder_key``/``hilbert_key``: geohash
IS Morton order over (lon, lat) with the interleaved bits spelled in a
base32 alphabet, so shared prefixes = shared cells — the standard
grouping key for "cluster requests by origin area" once ``iplookup``
has attached coordinates, for per-cell rate/abuse stats, and for the
partition column of a geo-bucketed sink (prefix filters prune files
exactly like any string-prefix partition).

Exact construction, no float loops: the closed form of the classic
range-halving walk is integer bucketization —

    lon_int = min(floor((lon + 180) / 360 · 2^nlon), 2^nlon − 1)
    lat_int = min(floor((lat + 90) / 180 · 2^nlat), 2^nlat − 1)

with nlon = ⌈5p/2⌉, nlat = ⌊5p/2⌋ for p characters; the two integers
interleave MSB-first with longitude on even positions (the RFC-less
but universal convention), and each 5-bit group indexes
``0123456789bcdefghjkmnpqrstuvwxyz``.  The single float product per
axis is the same IEEE expression in Spark and DuckDB, so the oracle
reproduces every character (boundary inputs land identically — both
engines round the identical double the identical way).

Scale shape: a flat forest of shift-and-mask terms per row (zorder_key
style, ~5p terms), scan-fused, whole-stage codegen, no UDF, no
shuffle.  Out-of-range coordinates raise rather than wrap.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _bit_layout(precision: int) -> tuple[int, int, list[tuple[str, int]]]:
    """Total bits and, per LSB position b, which axis and axis-bit
    feeds it (MSB position j = B−1−b; even j → lon)."""
    total = 5 * precision
    nlon = (total + 1) // 2
    nlat = total // 2
    layout = []
    for b in range(total):
        j = total - 1 - b
        if j % 2 == 0:
            layout.append(("lon", nlon - 1 - j // 2))
        else:
            layout.append(("lat", nlat - 1 - j // 2))
    return nlon, nlat, layout


def geohash(lat: Column, lon: Column, precision: int = 7) -> Column:
    """Base32 geohash string of ``precision`` characters."""
    if not 1 <= precision <= 12:
        raise ValueError("precision must be in [1, 12]")
    nlon, nlat, layout = _bit_layout(precision)
    # NULL coordinates (an unenriched row after iplookup) yield a NULL
    # geohash; only NON-NULL out-of-range values raise
    is_null = lat.isNull() | lon.isNull()
    guard = F.when(is_null, F.lit(None).cast("boolean")).when(
        lat.between(-90.0, 90.0) & lon.between(-180.0, 180.0), F.lit(True)
    ).otherwise(
        F.raise_error("geohash: lat/lon out of range").cast("boolean")
    )
    lon_int = F.least(
        F.floor((lon + 180.0) / 360.0 * float(1 << nlon)).cast("long"),
        F.lit((1 << nlon) - 1),
    )
    lat_int = F.when(
        guard,
        F.least(
            F.floor((lat + 90.0) / 180.0 * float(1 << nlat)).cast("long"),
            F.lit((1 << nlat) - 1),
        ),
    )
    axes = {"lon": lon_int, "lat": lat_int}
    terms = [
        F.shiftleft(
            F.shiftright(axes[axis], bit).bitwiseAND(F.lit(1).cast("long")), b
        )
        for b, (axis, bit) in enumerate(layout)
    ]
    g = reduce(lambda a, c: a + c, terms)
    alphabet = F.array(*[F.lit(c) for c in BASE32])
    chars = [
        F.element_at(
            alphabet,
            (F.shiftright(g, 5 * (precision - 1 - k))
             .bitwiseAND(F.lit(31).cast("long"))).cast("int") + 1,
        )
        for k in range(precision)
    ]
    # explicit NULL gate: element_at(arr, NULL) resolves to the LAST
    # element, so an ungated NULL coordinate would silently geohash to
    # 'zzz…' instead of NULL
    return F.when(is_null, F.lit(None).cast("string")).otherwise(
        F.concat(*chars)
    )


def geohash_sql(lat_expr: str, lon_expr: str, precision: int = 7) -> str:
    """The identical construction as a DuckDB SQL expression string."""
    nlon, nlat, layout = _bit_layout(precision)
    # explicit DOUBLE casts: a decimal-typed input would otherwise run
    # the bucketization in DECIMAL arithmetic, diverging from Spark's
    # IEEE doubles (and overflowing DuckDB's DECIMAL(18) on the way)
    lon_int = (
        f"LEAST(CAST(FLOOR((CAST(({lon_expr}) AS DOUBLE) + 180.0) / 360.0"
        f" * {float(1 << nlon)}) AS BIGINT), {(1 << nlon) - 1})"
    )
    lat_int = (
        f"LEAST(CAST(FLOOR((CAST(({lat_expr}) AS DOUBLE) + 90.0) / 180.0"
        f" * {float(1 << nlat)}) AS BIGINT), {(1 << nlat) - 1})"
    )
    axes = {"lon": lon_int, "lat": lat_int}
    terms = [
        f"((({axes[axis]} >> {bit}) & 1) << {b})"
        for b, (axis, bit) in enumerate(layout)
    ]
    g = "(" + " + ".join(terms) + ")"
    letters = "[" + ", ".join(f"'{c}'" for c in BASE32) + "]"
    chars = [
        f"list_extract({letters}, "
        f"CAST((({g} >> {5 * (precision - 1 - k)}) & 31) AS INT) + 1)"
        for k in range(precision)
    ]
    return " || ".join(chars)
