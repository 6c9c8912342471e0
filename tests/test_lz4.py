"""LZ4 block codec: spec-rule round trips, compression, Spark wrappers."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_components_spark.functions.lz4_codec import (
    lz4_compress,
    lz4_decompress,
)


def _rt(data: bytes) -> bytes:
    enc = lz4_compress(data)
    out = lz4_decompress(enc)
    assert out == data
    return enc


def test_empty_and_short_inputs():
    assert lz4_decompress(lz4_compress(b"")) == b""
    for n in range(1, 20):  # straddles the 13-byte all-literal threshold
        _rt(bytes(range(n)))


def test_repetitive_input_compresses():
    data = b"level=INFO msg=accepted " * 400
    enc = _rt(data)
    assert len(enc) < len(data) // 10


def test_overlap_match_rle():
    # offset 1 overlap copy: the classic RLE encoding path
    data = b"a" * 1000
    enc = _rt(data)
    assert len(enc) < 30


def test_incompressible_input_survives():
    rng = np.random.RandomState(3)
    data = rng.bytes(4096)
    enc = _rt(data)
    assert len(enc) <= len(data) + len(data) // 255 + 16  # literal overhead only


def test_long_literal_and_match_length_extensions():
    # >15 literals then a >19-byte match forces both 255-extension loops
    head = bytes(range(200))
    data = head + b"X" * 300 + head
    _rt(data)


def test_random_structured_corpus():
    rng = np.random.RandomState(11)
    words = [b"GET", b"/index", b"?q=", b"host-", b"200", b" ", b"\n", b"etag"]
    for _ in range(30):
        n = int(rng.randint(0, 300))
        data = b"".join(words[i] for i in rng.randint(0, len(words), size=n))
        _rt(data)


def test_invalid_blocks_raise():
    with pytest.raises(ValueError):
        lz4_decompress(b"\x10A\x00\x00")  # zero offset
    with pytest.raises(ValueError):
        lz4_decompress(b"\x10A\xff\xff")  # offset beyond output


def test_truncated_blocks_raise_value_error():
    # fail-loud contract on torn transport bodies, matching snappy_codec
    with pytest.raises(ValueError, match="literal run"):
        lz4_decompress(b"\x50ab")  # declares 5 literals, supplies 2
    with pytest.raises(ValueError, match="literal length"):
        lz4_decompress(b"\xf0\xff")  # extension byte run hits EOF
    with pytest.raises(ValueError, match="match offset"):
        lz4_decompress(b"\x22ABX")  # only 1 of 2 offset bytes left
    with pytest.raises(ValueError, match="match length"):
        # 4 literals + offset, extended match length cut off at EOF
        lz4_decompress(b"\x4fABCD\x01\x00\xff")


def test_spark_pack_unpack_roundtrip(spark):
    from opentelemetry_collector_components_spark.sources.decoders import (
        lz4_pack_bodies,
        lz4_unpack_bodies,
    )

    # a nullable int64 above 2^53 beside the body must pass through exact
    df = spark.range(200).select(
        F.col("id"),
        F.when(F.col("id") % 50 == 3, F.lit(None))
        .otherwise(F.col("id") + (1 << 60))
        .alias("big"),
        F.when(F.col("id") % 50 == 7, F.lit(None).cast("binary"))
        .otherwise(
            F.encode(
                F.concat(
                    F.lit("ts=2026-01-01 level=INFO unit=u"),
                    (F.col("id") % 9).cast("string"),
                    F.lit(" msg="),
                    F.repeat(F.lit("ab"), (F.col("id") % 40).cast("int")),
                ),
                "utf-8",
            )
        )
        .alias("body"),
    )
    packed = lz4_pack_bodies(df, "body")
    back = lz4_unpack_bodies(packed, "body")
    got = {r["id"]: (r["big"], r["body"]) for r in back.collect()}
    want = {r["id"]: (r["big"], r["body"]) for r in df.collect()}
    assert {k: (b, bytes(v) if v is not None else None)
            for k, (b, v) in got.items()} == {
        k: (b, bytes(v) if v is not None else None)
        for k, (b, v) in want.items()
    }
    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
