"""Interval aggregation — the lsmintervalprocessor analog (SURVEY.md A1-A11).

The reference buffers datapoints in a pebble LSM keyed by
``(interval, truncated_time, metadata...)`` and folds them with an
associative merge operator (processor/lsmintervalprocessor/processor.go:
116-135, internal/merger/merger.go:40-86), flushing matured intervals on a
timer.  All of that state machinery is Spark's shuffle + hash-aggregate:
``groupBy(trunc(ts, ivl), keys).agg(...)``.

Scale design
------------
- The reference copies every batch under EVERY interval key (1m/10m/60m
  each get a full copy, processor.go:399-413).  We aggregate ONCE at the
  finest interval and roll coarser intervals up from the 1-minute partials
  — legal because every merge used is associative.  At 100 TB this turns 3
  full-data shuffles into 1 full shuffle + 2 shuffles over tiny partials.
- Window keys are computed with integer epoch arithmetic (``date_trunc`` /
  floor-div), not the ``window()`` struct: scalar group keys keep the
  aggregate inside whole-stage codegen (HashAggregate), where struct keys +
  sketch states fall back to ObjectHashAggregate — measured 2x worse thread
  scaling at 32 cores.
- Distinct counts are OFF the hot path by default: ``distinct_mode='hll'``
  adds a re-aggregable HLL sketch (TypedImperativeAggregate — object agg,
  per-row sketch updates), 'exact' adds count_distinct (extra shuffle).
  Use them when the query needs them, not as a tax on every interval.

Post-aggregation decoration (``metricset.interval``, dataset suffix) mirrors
the OTTL statements run at harvest (processor.go:556-605,
connector/elasticapmconnector/config.go:172-180).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# interval label -> seconds (elasticapmconnector defaults, config.go:35-39)
_IVL_SECONDS = {"1m": 60, "10m": 600, "60m": 3600}
DEFAULT_INTERVALS = {"1m": "1 minute", "10m": "10 minutes", "60m": "60 minutes"}


def trunc_to_interval(ts: Column, interval: str) -> Column:
    """Tumbling-window start via epoch floor-division (codegen-friendly;
    the processor's truncate-to-interval, processor.go:159,249,463)."""
    secs = _IVL_SECONDS[interval]
    return F.timestamp_seconds((F.unix_timestamp(ts) / secs).cast("long") * secs)


def _metric_aggs(distinct_mode: str | None) -> list[Column]:
    aggs = [
        F.count(F.lit(1)).alias("docs"),
        F.sum("dur_us").alias("dur_us_sum"),
        F.sum("success_count").alias("success_count"),
        F.sum("failure_count").alias("failure_count"),
        F.min("dur_us").alias("dur_us_min"),
        F.max("dur_us").alias("dur_us_max"),
    ]
    if distinct_mode == "hll":
        aggs.append(F.hll_sketch_agg(F.col("svc")).alias("_svc_hll"))
    elif distinct_mode == "exact":
        aggs.append(F.count_distinct(F.col("svc")).alias("svc_distinct"))
    return aggs


def aggregate_base_interval(
    df: DataFrame,
    keys: list[str],
    time_col: str = "warc_ts",
    interval: str = "1m",
    distinct_mode: str | None = None,
) -> DataFrame:
    """One shuffle: finest-interval partial aggregates (all associative)."""
    win = trunc_to_interval(F.col(time_col), interval)
    out = df.groupBy(win.alias("window_start"), *keys).agg(*_metric_aggs(distinct_mode))
    return out.withColumn(
        "window_end", F.timestamp_seconds(F.unix_timestamp("window_start") + _IVL_SECONDS[interval])
    )


def rollup_interval(base: DataFrame, keys: list[str], interval: str) -> DataFrame:
    """Re-aggregate 1m partials into a coarser interval (associative fold —
    the property pebble's MergeNewer/MergeOlder relies on, merger.go:40-86)."""
    win = trunc_to_interval(F.col("window_start"), interval)
    aggs = [
        F.sum("docs").alias("docs"),
        F.sum("dur_us_sum").alias("dur_us_sum"),
        F.sum("success_count").alias("success_count"),
        F.sum("failure_count").alias("failure_count"),
        F.min("dur_us_min").alias("dur_us_min"),
        F.max("dur_us_max").alias("dur_us_max"),
    ]
    if "_svc_hll" in base.columns:
        aggs.append(F.hll_union_agg(F.col("_svc_hll")).alias("_svc_hll"))
    if "svc_distinct" in base.columns:
        # lower bound only — exact rollups must re-aggregate from raw
        aggs.append(F.max("svc_distinct").alias("svc_distinct"))
    out = base.groupBy(win.alias("window_start"), *keys).agg(*aggs)
    return out.withColumn(
        "window_end", F.timestamp_seconds(F.unix_timestamp("window_start") + _IVL_SECONDS[interval])
    )


def decorate_interval(df: DataFrame, interval: str, dataset_col: str | None = "sink") -> DataFrame:
    """Harvest-time decoration (A9): ``metricset.interval`` attr and
    ``data_stream.dataset`` interval suffix
    (elasticapmconnector/config.go:172-180)."""
    out = df.withColumn("metricset_interval", F.lit(interval))
    if dataset_col and dataset_col in df.columns:
        out = out.withColumn("dataset", F.concat(F.col(dataset_col), F.lit("." + interval)))
    if "_svc_hll" in out.columns:
        out = out.withColumn("svc_distinct", F.hll_sketch_estimate(F.col("_svc_hll"))).drop("_svc_hll")
    return out


def interval_rollup(
    df: DataFrame,
    keys: list[str],
    time_col: str = "warc_ts",
    intervals: tuple[str, ...] = ("1m", "10m", "60m"),
    distinct_mode: str | None = "hll",
) -> dict[str, DataFrame]:
    """Full multi-interval aggregation: one raw shuffle + cheap rollups."""
    ivls = sorted(intervals, key=lambda i: _IVL_SECONDS[i])
    base = aggregate_base_interval(df, keys, time_col, ivls[0], distinct_mode=distinct_mode)
    out = {ivls[0]: decorate_interval(base, ivls[0])}
    for ivl in ivls[1:]:
        out[ivl] = decorate_interval(rollup_interval(base, keys, ivl), ivl)
    return out


def interval_rollup_union(
    df: DataFrame,
    keys: list[str],
    time_col: str = "warc_ts",
    intervals: tuple[str, ...] = ("1m", "10m", "60m"),
    distinct_mode: str | None = None,
) -> DataFrame:
    """All intervals in ONE DataFrame, discriminated by
    ``metricset_interval``, with the raw scan evaluated exactly once.

    Every branch reads the same 1m base aggregate, and the branches are one
    union plan, so Spark's exchange reuse runs the base's shuffle once and
    the coarser branches read it as a ``ReusedExchange``: the input is
    scanned once and nothing is cached.  The coarser intervals roll up the
    tiny base (#groups = |keys| x minutes), never the input — the same
    asymmetry the reference exploits by keeping only merged per-interval
    state in pebble rather than raw datapoints (processor.go:391-425).
    """
    ivls = sorted(intervals, key=lambda i: _IVL_SECONDS[i])
    base = aggregate_base_interval(df, keys, time_col, ivls[0], distinct_mode=distinct_mode)
    frames = [decorate_interval(base, ivls[0])]
    for ivl in ivls[1:]:
        frames.append(decorate_interval(rollup_interval(base, keys, ivl), ivl))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def merge_agg_states(
    parts: list[DataFrame], keys: list[str], spec: dict[str, str]
) -> DataFrame:
    """Incremental-view maintenance merge: fold any number of partial
    aggregate tables (same schema) into one, per ``keys`` — the batch
    twin of ``streaming/mergesink.py`` and the property every rollup in
    this module leans on (associative partial aggregation; pebble's
    MergeNewer, merger.go:40-86).  ``spec`` maps each metric column to
    its fold: ``sum`` (counts and sums), ``min`` / ``max``.

    Non-decomposable aggregates (exact distincts, medians) have no such
    fold — re-aggregate from raw or carry a sketch (`_svc_hll` /
    `kmv_build`); that boundary is the whole reason sketch columns exist.

    One union + one partial-aggregated groupBy over |partials| rows —
    the nightly-delta maintenance loop pays |delta| + |touched state|,
    never a full recompute."""
    if not parts:
        raise ValueError("parts must be non-empty")
    allowed = {"sum", "min", "max"}
    bad = {v for v in spec.values()} - allowed
    if bad:
        raise ValueError(f"unsupported fold(s) {sorted(bad)}; use {sorted(allowed)}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    aggs = [getattr(F, fold)(col).alias(col) for col, fold in spec.items()]
    return out.groupBy(*keys).agg(*aggs)
