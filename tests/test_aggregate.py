"""M4a: interval rollup — 1m partials roll up exactly to 10m/60m."""

from pyspark.sql import functions as F

from opentelemetry_collector_components_spark.operators.aggregate import (
    aggregate_base_interval,
    interval_rollup,
    interval_rollup_union,
)
from opentelemetry_collector_components_spark.operators.enrich import (
    derive_event_fields,
    enrich_with_dim,
)
from opentelemetry_collector_components_spark.operators.parse import parse_pages
from opentelemetry_collector_components_spark.operators.route import with_data_stream_route
from opentelemetry_collector_components_spark.sources.dims import generate_domain_dim
from opentelemetry_collector_components_spark.sources.pages import generate_pages


def _routed(spark, n=20000):
    parsed = parse_pages(generate_pages(spark, n))
    enriched = derive_event_fields(enrich_with_dim(parsed, generate_domain_dim(spark)))
    return with_data_stream_route(enriched)


def _as_sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_rollup_equals_direct(spark):
    """Rolling 1m partials up to 10m == aggregating raw data at 10m
    (associativity — the pebble merge-operator property)."""
    routed = _routed(spark).cache()
    out = interval_rollup(routed, keys=["sink"], distinct_mode=None)
    direct_10m = aggregate_base_interval(routed, keys=["sink"], interval="10m")

    cols = ["window_start", "sink", "docs", "dur_us_sum", "success_count", "failure_count", "dur_us_min", "dur_us_max"]
    assert _as_sorted_rows(out["10m"], cols) == _as_sorted_rows(direct_10m, cols)
    routed.unpersist()


def test_rollup_union_matches_rollup_scans_once_caches_nothing(spark):
    """interval_rollup_union == interval_rollup per interval; the executed
    plan scans the input once (the coarser branches read the base's
    shuffle as a ReusedExchange) and the call leaves no persisted RDD."""
    n = 2000
    routed = _routed(spark, n)
    keys = ["sink", "geo"]
    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs
    before = persistent().size()
    out = interval_rollup_union(routed, keys=keys)
    assert persistent().size() == before
    rows = out.collect()
    assert persistent().size() == before

    cols = out.columns
    expected = interval_rollup(routed, keys=keys, distinct_mode=None)
    assert sorted(expected) == ["10m", "1m", "60m"]
    for ivl, frame in expected.items():
        got = sorted(
            tuple(r[c] for c in cols) for r in rows if r["metricset_interval"] == ivl
        )
        assert got == _as_sorted_rows(frame, cols), ivl

    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert final.count(f"Range (0, {n},") == 1
    assert final.count("ReusedExchange") == 2


def test_totals_conserved(spark):
    routed = _routed(spark, 10000)
    out = interval_rollup(routed, keys=["sink"])
    for ivl, df in out.items():
        total = df.agg(F.sum("docs")).collect()[0][0]
        assert total == 10000, ivl


def test_decoration(spark):
    routed = _routed(spark, 2000)
    out = interval_rollup(routed, keys=["sink"])
    row = out["10m"].limit(1).collect()[0]
    assert row["metricset_interval"] == "10m"
    assert row["dataset"].endswith(".10m")
    # hll sketch resolved to an estimate column
    assert "svc_distinct" in out["1m"].columns
    assert "_svc_hll" not in out["1m"].columns


def test_hll_estimate_close(spark):
    routed = _routed(spark, 20000)
    out = interval_rollup(routed, keys=[])
    est = out["60m"].agg(F.max("svc_distinct")).collect()[0][0]
    # 20 distinct services; HLL++ at default precision is exact-ish this small
    assert abs(est - 20) <= 2


def test_merge_agg_states_equals_recompute(spark):
    from opentelemetry_collector_components_spark.operators.aggregate import (
        merge_agg_states,
    )
    import pyspark.sql.functions as F

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

    def agg(part):
        return part.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("event_id").alias("s"),
            F.min("event_id").alias("mn"),
            F.max("event_id").alias("mx"),
        )

    parts = [agg(ev.where(f"event_id % 4 = {i}")) for i in range(4)]
    merged = merge_agg_states(
        parts, ["event_type"], {"docs": "sum", "s": "sum", "mn": "min", "mx": "max"}
    )
    full = agg(ev)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))


def test_merge_agg_states_validation(spark):
    import pytest as _pt

    from opentelemetry_collector_components_spark.operators.aggregate import (
        merge_agg_states,
    )

    with _pt.raises(ValueError, match="non-empty"):
        merge_agg_states([], ["k"], {})
    df = spark.createDataFrame([(1, 2)], "k long, v long")
    with _pt.raises(ValueError, match="unsupported fold"):
        merge_agg_states([df], ["k"], {"v": "avg"})
