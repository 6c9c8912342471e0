"""Exact-integer PCA power iteration: planted-direction recovery,
bit-exact partition invariance, normalization bounds, degenerate and
validation guards."""

from __future__ import annotations

import math

import pytest

from opentelemetry_collector_components_spark.operators.pca import (
    pca_power_quantized,
)


def _planted(spark, n=300, dims=16, amp=9.0):
    # x_i = t_i * u + small deterministic residue -> top PC is u
    u = [math.sin(0.7 * k + 0.3) for k in range(dims)]
    rows = []
    for i in range(n):
        t = ((i * 37) % 21 - 10) / 10.0  # deterministic coefficient in [-1, 1]
        res = [((i * 13 + k * 7) % 11 - 5) / 25.0 for k in range(dims)]
        rows.append((i, [amp * t * u[k] + res[k] for k in range(dims)]))
    return u, spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_planted_direction_recovered(spark):
    u, df = _planted(spark)
    scores, v = pca_power_quantized(df, iterations=4)
    nu = math.sqrt(sum(x * x for x in u))
    nv = math.sqrt(sum(x * x for x in v))
    cos = abs(sum(a * b for a, b in zip(u, v)) / (nu * nv))
    assert cos > 0.99
    # projections track the planted coefficient (|Pearson r| ~ 1 up to sign)
    got = {r.vec_id: r.pc1_score for r in scores.collect()}
    ts = [((i * 37) % 21 - 10) / 10.0 for i in range(300)]
    ss = [float(got[i]) for i in range(300)]
    mt, ms = sum(ts) / 300, sum(ss) / 300
    cov = sum((a - mt) * (b - ms) for a, b in zip(ts, ss))
    var = math.sqrt(
        sum((a - mt) ** 2 for a in ts) * sum((b - ms) ** 2 for b in ss)
    )
    assert abs(cov / var) > 0.99


def test_bit_exact_partition_invariance(spark):
    _, df = _planted(spark, n=120)
    a, va = pca_power_quantized(df.repartition(1), iterations=3)
    b, vb = pca_power_quantized(df.repartition(17), iterations=3)
    assert va == vb
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_normalization_bounds(spark):
    _, df = _planted(spark)
    _, v = pca_power_quantized(df, iterations=2)
    assert max(abs(x) for x in v) == 1000
    assert all(-1000 <= x <= 1000 for x in v)


def test_guards(spark):
    _, df = _planted(spark, n=10)
    with pytest.raises(ValueError, match="iterations"):
        pca_power_quantized(df, iterations=0)
    with pytest.raises(ValueError, match="empty"):
        pca_power_quantized(df.where("vec_id < 0"))
    with pytest.raises(ValueError, match="max_rows"):
        pca_power_quantized(df, max_rows=5)
    flat = spark.createDataFrame(
        [(i, [2.0, 2.0, 2.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="degenerate"):
        pca_power_quantized(flat)


def test_empty_or_null_vectors_vs_ragged(spark):
    schema = "vec_id long, embedding array<double>"
    all_empty = spark.createDataFrame([(i, []) for i in range(4)], schema)
    all_null = spark.createDataFrame([(i, None) for i in range(4)], schema)
    for df in (all_empty, all_null):
        with pytest.raises(ValueError, match="empty or NULL embedding vectors"):
            pca_power_quantized(df)
    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0]), (2, [4.0, 5.0, 6.0])], schema
    )
    with pytest.raises(ValueError, match="ragged"):
        pca_power_quantized(ragged)
