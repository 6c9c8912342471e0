"""Streaming interval aggregation — the true lsminterval analog.

The reference is a push-based streaming system: datapoints buffer in pebble
and matured intervals flush on a wall-clock timer
(processor/lsmintervalprocessor/processor.go:181-208).  Structured Streaming
gives the same contract declaratively:

- pebble buffer + merge operator  -> state store + windowed hash aggregate
- timer flush of matured windows  -> watermark + append output mode
- WAL/commit batch                -> checkpointLocation

``streaming_interval_agg`` works on any streaming DataFrame with an event
timestamp; tests feed it a file/memory source of the same pages rows the
batch path uses and assert batch/stream result equality.

The reference keys state by PROCESSING time (arrival), not event time
(SURVEY.md §2.8) — we improve on it with event-time windows + watermark,
which is the Spark-native (and strictly more useful) semantic; the
equivalence test pins behavior on in-order data where both agree.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _fold_partials(partials: DataFrame, keys: list[str], intervals: Sequence[str]) -> DataFrame:
    """``(window_start, *keys, docs, value_sum)`` 1m partials folded into
    every interval of ``intervals`` by ``operators.aggregate.fold_intervals``:
    ``window_start, *keys, docs, value_sum, metricset_interval``."""
    from ..operators.aggregate import fold_intervals

    aggs = [F.sum("docs").alias("docs"), F.sum("value_sum").alias("value_sum")]
    return fold_intervals(partials, keys, "window_start", intervals, aggs).drop("window_end")


def streaming_interval_agg(
    stream: DataFrame,
    keys: list[str],
    time_col: str = "warc_ts",
    interval: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Windowed count/sum aggregate with late-data watermark.

    Output append-mode rows appear once a window falls behind the watermark
    — the "matured interval harvest" analog.
    """
    win = F.window(F.col(time_col), interval)
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(win.alias("_w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("dur_us").alias("dur_us_sum"),
            F.sum("success_count").alias("success_count"),
            F.sum("failure_count").alias("failure_count"),
        )
        .select(
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            *keys,
            "docs",
            "dur_us_sum",
            "success_count",
            "failure_count",
        )
    )


def streaming_interval_rollup(
    stream: DataFrame,
    keys: list[str],
    out_path: str,
    checkpoint_dir: str,
    time_col: str = "ts",
    value_col: str = "value",
    intervals: tuple[str, ...] = ("1m", "10m", "60m"),
    query_name: str = "stream_interval_rollup",
):
    """Multi-interval streaming rollup: ONE stateful 1m aggregate; every
    interval (1m/10m/60m) is derived INSIDE ``foreachBatch`` from the 1m
    partials by ``operators.aggregate.fold_intervals``, the fold
    ``interval_rollup_union`` runs over raw rows, here folding the 1m
    state on ``window_start``.  The reference re-buffers every datapoint
    once PER interval (processor/lsmintervalprocessor/processor.go:
    399-413); the state store here holds only the finest interval, and
    the coarser ones are copies of its partials, never of raw rows.

    Scale shape: the state store holds |keys| x minutes rows (tiny); each
    micro-batch emits the complete current 1m table, the rollup is one
    aggregate over that tiny frame, and the result overwrites ``out_path``
    — so a batch's cost is bounded by partial-table size, never raw input.
    Complete mode re-emits the full partial table every micro-batch —
    fine for a bounded drain, unbounded on a long-lived stream; the
    production path is ``streaming_interval_rollup_update`` below (update
    mode + per-partition MERGE, per-batch cost bounded by touched keys).

    Returns the started StreamingQuery (availableNow trigger: drains the
    source then stops — callers awaitTermination() then read ``out_path``).
    """
    from ..operators.aggregate import _IVL_SECONDS, trunc_to_interval

    ivls = sorted(intervals, key=lambda i: _IVL_SECONDS[i])
    base = stream.groupBy(
        trunc_to_interval(F.col(time_col), ivls[0]).alias("window_start"), *keys
    ).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(value_col).alias("value_sum"),
    )

    def _roll(batch_df: DataFrame, _batch_id: int) -> None:
        _fold_partials(batch_df, keys, ivls).write.mode("overwrite").parquet(out_path)

    return (
        base.writeStream.outputMode("complete")
        .foreachBatch(_roll)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_interval_rollup_update(
    stream: DataFrame,
    keys: list[str],
    partials_path: str,
    checkpoint_dir: str,
    time_col: str = "ts",
    value_col: str = "value",
    interval: str = "1m",
    query_name: str = "stream_interval_rollup_update",
    stats: list | None = None,
    watermark: str | None = None,
):
    """Production-mode streaming rollup (VERDICT r3 directive #3): the 1m
    aggregate runs in UPDATE output mode, so each micro-batch emits only
    the (window, key) rows it actually touched, and ``foreachBatch`` MERGEs
    them into a persistent 1m-partials table — per-batch SINK cost is
    bounded by the batch's touched keys, never by total accumulated state
    (the complete-mode variant above re-emits |keys| x minutes rows every
    batch, which grows without bound on a long-lived stream).

    STATE-STORE growth is a separate axis: without a watermark, update
    mode keeps every (window, key) aggregate live forever.  Pass
    ``watermark`` (e.g. "2 hours") on an unbounded deployment so windows
    older than it evict from state — the usual trade applies: rows arriving
    later than the watermark are dropped, so exact-replay equality holds
    only for in-order-within-watermark data.  The default None keeps every
    window live, which is right for bounded drains and replays.

    The MERGE is the parquet analog of Delta/Iceberg MERGE INTO: partials
    are hash-partitioned by epoch-hour of the window; a batch reads back
    ONLY the partitions it touches (partition pruning), anti-joins out the
    superseded rows, unions the fresh ones, and rewrites just those
    partitions (dynamic partition overwrite).  The merged frame is
    localCheckpoint-ed before the write because source and destination are
    the same path — without materialization the overwrite would corrupt
    its own lazy input.  On Iceberg this whole closure collapses to one
    MERGE INTO with snapshot-atomic commit.

    Coarse intervals are NOT stored: ``read_interval_rollup`` re-derives
    10m/60m at read time with the same associative fold (sums of sums) —
    single-copy-per-datapoint, the property the reference's LSM design
    trades away (processor.go:399-413 re-buffers per interval).

    ``stats``, when provided, collects one dict per micro-batch
    (updated_rows / partitions_touched / rows_written) so tests can assert
    the boundedness claim instead of trusting it.

    The grouping key is ``F.window(time_col, ...)`` — NOT the arithmetic
    ``trunc_to_interval`` the batch path uses — because watermark
    late-row filtering and state eviction only engage when Spark can see
    the grouping key derives from the event-time column; a computed
    ``timestamp_seconds(unix_timestamp(...))`` expression strips the
    event-time metadata and silently turns the watermark into a no-op
    (verified: numRowsDroppedByWatermark stayed 0 under 2-hour-late
    rows until this switch).  Both forms are the same epoch-aligned
    tumbling bucket, so batch/stream equality is unchanged."""
    from ..operators.aggregate import _IVL_SECONDS

    if watermark is not None:
        stream = stream.withWatermark(time_col, watermark)
    secs = _IVL_SECONDS[interval]
    base = (
        stream.groupBy(
            F.window(F.col(time_col), f"{secs} seconds").alias("_w"), *keys
        )
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(value_col).alias("value_sum"),
        )
        .select(
            # pin LTZ: the pre-window() code emitted timestamp_seconds
            # (TimestampType); without the cast an NTZ source would flip
            # the persisted partials' window_start type mid-table
            F.col("_w.start").cast("timestamp").alias("window_start"),
            *keys,
            "docs",
            "value_sum",
        )
    )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        batch_df = batch_df.withColumn(
            "part_hour", F.floor(F.unix_timestamp("window_start") / 3600)
        ).persist()
        touched = [r[0] for r in batch_df.select("part_hour").distinct().collect()]
        merged = batch_df
        # probe existing partials through Spark's filesystem layer, NOT the
        # driver's os module — partials_path may be HDFS/S3, where a local
        # isdir() is always False and the overwrite would silently drop
        # every previously merged row in the touched partitions
        try:
            existing = spark.read.parquet(partials_path).filter(
                F.col("part_hour").isin(touched)
            )
            existing.schema  # force resolution so a missing path raises here
        except AnalysisException:
            existing = None
        if existing is not None:
            keep = existing.join(
                batch_df.select("window_start", *keys),
                on=["window_start", *keys],
                how="left_anti",
            )
            merged = keep.unionByName(batch_df.select(*keep.columns))
        merged = merged.localCheckpoint()
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part_hour")
            .parquet(partials_path)
        )
        if stats is not None:
            stats.append(
                {
                    "batch_id": batch_id,
                    "updated_rows": batch_df.count(),
                    "partitions_touched": len(touched),
                    "rows_written": merged.count(),
                }
            )
        batch_df.unpersist()

    return (
        base.writeStream.outputMode("update")
        .foreachBatch(_merge)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_interval_rollup(
    spark,
    partials_path: str,
    keys: list[str],
    intervals: tuple[str, ...] = ("1m", "10m", "60m"),
) -> DataFrame:
    """Read-time rollup over the 1m-partials table: every interval is
    ``fold_intervals`` (the fold the batch path runs over raw rows) over
    the stored partials; counts and sums of the finest interval re-sum
    exactly, so storing only 1m partials loses nothing.  The partials
    table holds one row per key combination and minute, so the fold's cost
    is bounded by that table, not by how much raw stream fed it."""
    # the finest requested interval is folded too (not just labeled): a
    # no-op re-group when it equals the stored 1m granularity, and the
    # correct aggregation when a caller requests only coarser intervals
    part = spark.read.parquet(partials_path).drop("part_hour")
    return _fold_partials(part, keys, intervals)


def run_stream_to_memory(
    stream_agg: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    mode: str = "append",
):
    """Start the query against the in-memory sink (tests/bench harness)."""
    return (
        stream_agg.writeStream.outputMode(mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
