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
  — legal because every merge used is associative.  This turns 3
  full-data shuffles into 1 full shuffle + 1 shuffle of the 1m partials,
  copied once per interval label (``fold_intervals``, the one interval
  fold every rollup here and in ``streaming/interval.py`` uses).  The
  second shuffle scales with the number of 1m groups, not input rows: it
  is small only when each 1m group holds many rows; with high-cardinality
  keys (about one group per row) it is about as large as the first.
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

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# interval label -> seconds (elasticapmconnector defaults, config.go:35-39)
_IVL_SECONDS = {"1m": 60, "10m": 600, "60m": 3600}
DEFAULT_INTERVALS = {"1m": "1 minute", "10m": "10 minutes", "60m": "60 minutes"}


def trunc_to_interval(ts: Column, interval: str | Column) -> Column:
    """Tumbling-window start via epoch floor-division (codegen-friendly;
    the processor's truncate-to-interval, processor.go:159,249,463).
    ``interval`` is a label of ``_IVL_SECONDS`` or a column of seconds."""
    secs = _IVL_SECONDS[interval] if isinstance(interval, str) else interval
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


# each partial column's associative re-aggregation
_REAGG = {
    "docs": F.sum,
    "dur_us_sum": F.sum,
    "success_count": F.sum,
    "failure_count": F.sum,
    "dur_us_min": F.min,
    "dur_us_max": F.max,
    "_svc_hll": F.hll_union_agg,
    # lower bound only above the finest interval — exact rollups must
    # re-aggregate from raw
    "svc_distinct": F.max,
}


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


def fold_intervals(
    partials: DataFrame, keys: list[str], intervals: Sequence[str], aggs: list[Column]
) -> DataFrame:
    """THE interval fold: re-aggregate finest-interval partials into every
    interval of ``intervals`` with ONE aggregate.  Each partial row is
    copied once per interval label (one ``inline``, an ``explode`` into
    scalar columns, over a literal array of ``(label, seconds)`` structs:
    the reference's copy-under-every-interval-key, processor.go:399-413,
    applied to the partials instead of raw datapoints), then one
    ``groupBy(window, keys, label).agg(aggs)`` folds all intervals at
    once; ``aggs`` must be associative re-aggregations of the partial
    columns (the property pebble's MergeNewer/MergeOlder relies on,
    merger.go:40-86).  ``partials`` carries ``window_start`` at the
    finest interval; folding that interval again is a 1:1 re-group.

    Output: ``window_start, *keys, <aggs>, window_end, metricset_interval``.
    """
    labels = F.array(
        *[
            F.struct(F.lit(i).alias("_label"), F.lit(_IVL_SECONDS[i]).alias("_secs"))
            for i in intervals
        ]
    )
    secs = F.col("_secs")
    out = (
        partials.select("*", F.inline(labels))
        .groupBy(
            trunc_to_interval(F.col("window_start"), secs).alias("window_start"),
            *keys,
            "_label",
            "_secs",
        )
        .agg(*aggs)
    )
    return out.select(
        "window_start",
        *keys,
        *out.columns[len(keys) + 3 :],
        F.timestamp_seconds(F.unix_timestamp("window_start") + secs).alias("window_end"),
        F.col("_label").alias("metricset_interval"),
    )


def _decorate(df: DataFrame, dataset_col: str | None = "sink") -> DataFrame:
    """Harvest-time decoration of a frame that already carries
    ``metricset_interval``: the ``data_stream.dataset`` interval suffix
    and the HLL sketch resolved to ``svc_distinct``."""
    new = {}
    if dataset_col and dataset_col in df.columns:
        new["dataset"] = F.concat(F.col(dataset_col), F.lit("."), F.col("metricset_interval"))
    if "_svc_hll" in df.columns:
        new["svc_distinct"] = F.hll_sketch_estimate(F.col("_svc_hll"))
        return df.withColumns(new).drop("_svc_hll")
    return df.withColumns(new) if new else df


def decorate_interval(df: DataFrame, interval: str, dataset_col: str | None = "sink") -> DataFrame:
    """Harvest-time decoration (A9): ``metricset.interval`` attr and
    ``data_stream.dataset`` interval suffix
    (elasticapmconnector/config.go:172-180)."""
    return _decorate(df.withColumn("metricset_interval", F.lit(interval)), dataset_col)


def interval_rollup(
    df: DataFrame,
    keys: list[str],
    time_col: str = "warc_ts",
    intervals: tuple[str, ...] = ("1m", "10m", "60m"),
    distinct_mode: str | None = "hll",
) -> dict[str, DataFrame]:
    """Full multi-interval aggregation as one frame per interval: each is
    the ``interval_rollup_union`` result filtered to its label."""
    out = interval_rollup_union(df, keys, time_col, intervals, distinct_mode)
    ivls = sorted(intervals, key=lambda i: _IVL_SECONDS[i])
    return {ivl: out.filter(F.col("metricset_interval") == ivl) for ivl in ivls}


def interval_rollup_union(
    df: DataFrame,
    keys: list[str],
    time_col: str = "warc_ts",
    intervals: tuple[str, ...] = ("1m", "10m", "60m"),
    distinct_mode: str | None = None,
) -> DataFrame:
    """All intervals in ONE DataFrame, discriminated by
    ``metricset_interval``, with the raw scan evaluated exactly once.

    Two shuffles, nothing cached: the raw input aggregates once at the
    finest interval, and ``fold_intervals`` folds those partials into
    every interval with one more aggregate.  The fold reads only the
    partials (one row per key combination and minute), never the input —
    the same asymmetry the reference exploits by keeping only merged
    per-interval state in pebble rather than raw datapoints
    (processor.go:391-425).  That bounds the fold by the input; it is
    small only when the keys' 1m groups each hold many rows.
    """
    ivls = sorted(intervals, key=lambda i: _IVL_SECONDS[i])
    base = aggregate_base_interval(df, keys, time_col, ivls[0], distinct_mode=distinct_mode)
    aggs = [fold(c).alias(c) for c, fold in _REAGG.items() if c in base.columns]
    return _decorate(fold_intervals(base, keys, ivls, aggs))


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
