"""M4a: interval rollup — 1m partials roll up exactly to 10m/60m."""

from pyspark.sql import functions as F

from opentelemetry_collector_components_spark.operators.aggregate import (
    aggregate_base_interval,
    decorate_interval,
    interval_rollup,
    interval_rollup_union,
    trunc_to_interval,
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
    """interval_rollup_union == the raw input aggregated directly at each
    interval, and interval_rollup's frames are its per-interval slices —
    on a key column with NULL values, for intervals passed unsorted and for
    a single interval.  The executed plan scans the input once, has no
    Union and exactly two shuffle Exchanges (the finest-interval base and
    the one interval fold), and the call leaves no persisted RDD."""
    n = 2000
    keys = ["sink", "geo"]
    # a NULL key value groups like any other value
    routed = _routed(spark, n).withColumn(
        "geo", F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(F.col("geo"))
    )
    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs
    for intervals in [("1m", "10m", "60m"), ("60m", "1m", "10m"), ("10m",)]:
        before = persistent().size()
        out = interval_rollup_union(routed, keys=keys, intervals=intervals)
        assert persistent().size() == before
        rows = out.collect()
        assert persistent().size() == before

        cols = out.columns
        sliced = interval_rollup(routed, keys=keys, intervals=intervals, distinct_mode=None)
        assert list(sliced) == sorted(intervals, key=lambda i: int(i[:-1]))
        assert {r["metricset_interval"] for r in rows} == set(intervals)
        for ivl in intervals:
            got = sorted(
                (tuple(r[c] for c in cols) for r in rows if r["metricset_interval"] == ivl),
                key=repr,
            )
            direct = decorate_interval(aggregate_base_interval(routed, keys, interval=ivl), ivl)
            assert got == sorted(map(tuple, direct.select(*cols).collect()), key=repr), ivl
            assert got == sorted(map(tuple, sliced[ivl].collect()), key=repr), ivl
        assert any(r["geo"] is None for r in rows)

        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
        assert final.count(f"Range (0, {n},") == 1
        # the dimension's broadcast subtree (a union of hot and cold
        # domains) prints after the rollup's own operators
        assert "Union" not in final.split("BroadcastQueryStage")[0]
        assert final.count("Exchange hashpartitioning") == 2
        assert "ReusedExchange" not in final


def test_hll_rollup_matches_per_interval_fold(spark):
    """distinct_mode='hll' on a distinct column with thousands of values per
    1m group (the sketches are in HLL mode, not exact list/set mode): the
    1m svc_distinct equals the 1m base sketch's own estimate, and each
    coarser interval's equals a separate per-interval re-aggregation of the
    1m sketches."""
    n, span_s = 120_000, 1200  # 20 minutes across a 10m boundary, 2 sinks
    rows = spark.range(n).select(
        F.timestamp_seconds(F.lit(1_767_225_300) + F.col("id") % span_s).alias("warc_ts"),
        (F.col("id") % 2).cast("string").alias("sink"),
        F.concat(F.lit("svc-"), F.col("id").cast("string")).alias("svc"),
        F.lit(1).cast("long").alias("dur_us"),
        F.lit(1).cast("long").alias("success_count"),
        F.lit(0).cast("long").alias("failure_count"),
    )
    keys = ["sink"]
    out = interval_rollup_union(rows, keys=keys, distinct_mode="hll")
    got = {
        (r["metricset_interval"], r["window_start"], r["sink"]): r["svc_distinct"]
        for r in out.collect()
    }
    base = aggregate_base_interval(rows, keys, distinct_mode="hll")
    want = {
        ("1m", r["window_start"], r["sink"]): r["est"]
        for r in base.select("window_start", *keys, F.hll_sketch_estimate("_svc_hll").alias("est")).collect()
    }
    # every 1m group holds 3,000 distinct values; HLL mode estimates them
    assert len(want) == 40 and any(v != n // 40 for v in want.values())
    for ivl in ("10m", "60m"):
        per_ivl = base.groupBy(
            trunc_to_interval(F.col("window_start"), ivl).alias("w"), *keys
        ).agg(F.hll_sketch_estimate(F.hll_union_agg("_svc_hll")).alias("est"))
        for r in per_ivl.collect():
            want[(ivl, r["w"], r["sink"])] = r["est"]
    assert got == want


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
