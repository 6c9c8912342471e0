"""Partitioning & skew handling — partitioningprocessor analog (E9) made real.

The reference declares a partitioning stage that is currently a pass-through
(processor/partitioningprocessor/processor.go:32-61) because a single Go
process has no shuffle.  In Spark the stage is load-bearing: hot domains
(~20% of rows on 3 of 50 domains in our input) would put 20% of the data in
3 reducer tasks of any domain-keyed shuffle.

Two tools:

- ``salted_repartition``: spread rows of the same hot key across
  ``n_salts`` tasks via ``murmur3(url) % n_salts`` (the BASELINE.json
  mandated salting key) — for downstream per-partition work (writes,
  mapInPandas) that doesn't need key co-location.
- ``two_phase_agg``: salt -> partial agg -> unsalt -> final agg; the classic
  skew-proof aggregate.  With AQE skew-join handling enabled in session.py
  this is only needed for extreme aggregation skew, but at 1000 executors
  it is cheap insurance: the partial pass shrinks hot groups by ~rows/salts
  before any single reducer sees them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_col(key: Column, n_salts: int) -> Column:
    """murmur3-based salt in [0, n_salts) — F.hash IS Spark's murmur3."""
    return F.pmod(F.hash(key), F.lit(n_salts))


def salted_repartition(df: DataFrame, key: str, n_salts: int = 16, n_partitions: int | None = None) -> DataFrame:
    parts = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    salted = df.withColumn("_salt", salt_col(F.col(key), n_salts))
    return salted.repartition(parts, F.col(key), F.col("_salt")).drop("_salt")


def two_phase_top_n(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    n: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Skew-proof first-N rows per group (strict (order_cols) order with the
    caller responsible for making it a total order).

    A plain ``Window.partitionBy(group).orderBy(...)`` sorts each group's
    FULL row set on one task — fatal when one group dominates (an overflow
    bucket, a Common-Crawl source, ...).  Phase 1 ranks within (physical
    partition, group) and keeps at most ``n`` rows per slice; phase 2
    re-ranks the survivors per group, bounded by partitions x n.  Any row
    in a group's true first-N is also in the first-N of its own partition
    slice, so the result is exact.

    ``rank_col``: when set, the final per-group rank (1-based) is kept
    under that name so callers needing a finer per-group cut don't re-run
    an identical window over the survivors."""
    from pyspark.sql.window import Window

    local = Window.partitionBy("_pid", *group_cols).orderBy(*order_cols)
    cand = (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lrn", F.row_number().over(local))
        .filter(F.col("_lrn") <= n)
        .drop("_pid", "_lrn")
    )
    final = Window.partitionBy(*group_cols).orderBy(*order_cols)
    name = rank_col or "_rn"
    out = (
        cand.withColumn(name, F.row_number().over(final))
        .filter(F.col(name) <= n)
    )
    return out if rank_col else out.drop(name)


def two_phase_agg(
    df: DataFrame,
    keys: list[str],
    partial_aggs: dict[str, Column],
    final_aggs: dict[str, Column],
    salt_key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Skew-proof aggregate: groupBy(keys + salt) partials, then
    groupBy(keys) finals.

    ``partial_aggs``/``final_aggs``: output-name -> aggregate expression;
    the final expressions reference the partial output columns.
    """
    salted = df.withColumn("_salt", salt_col(F.col(salt_key), n_salts))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[expr.alias(name) for name, expr in partial_aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[expr.alias(name) for name, expr in final_aggs.items()]
    )


def frequent_items_verified(
    df: DataFrame,
    item_col: str,
    k: int,
) -> DataFrame:
    """Exact phi-heavy hitters (items with frequency > n/k) found with
    bounded memory: per-partition Misra-Gries candidate generation, then
    ONE exact count pass restricted to the candidates.

    Why not ``groupBy(item).count()`` directly: at 100 TB the item column
    can have billions of distinct values, and the full aggregation
    shuffles every distinct (item, partial-count) pair.  Misra-Gries
    holds at most ~k counters per task; its per-partition survivors are a
    PROVABLE superset of the global heavy hitters (if an item's total
    frequency exceeds n/k, its frequency exceeds n_p/k in at least one
    partition p — summing the contrapositive over partitions gives
    total <= sum(n_p)/k = n/k).  The exact verify then touches only
    candidate rows via a broadcast semi-join (candidates are bounded by
    partitions x k, tiny by construction), so the final counts — and
    therefore the output — are exact and deterministic regardless of how
    rows were partitioned.  The per-batch sketch update is a vectorized
    ``value_counts`` + a counter-dict merge over the batch's DISTINCT
    values (never per row).

    The candidate pass also carries each partition's exact row and NULL
    counts in a per-partition summary row, so the total n (threshold
    denominator) and the NULL group's exact frequency come out of the
    SAME scan — the whole operator reads ``df`` exactly twice (sketch +
    verify), and a frequent NULL item is reported exactly (matching SQL
    ``GROUP BY`` semantics, where NULL is a group) instead of being
    dropped by the sketch's dropna.

    Output: (item_col, cnt) for every item with cnt * k > n, n = df row
    count.  Integer compare — no float threshold edge."""
    import pandas as pd

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    item_t = df.schema[item_col].dataType.simpleString()
    out_schema = f"`{item_col}` {item_t}, `_part_rows` bigint, `_null_rows` bigint"

    def mg_candidates(batches):
        counters: dict = {}
        n_p = 0
        null_p = 0
        for pdf in batches:
            col = pdf[item_col]
            n_p += len(col)
            null_p += int(col.isna().sum())
            for v, c in col.value_counts(dropna=True).items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > k:
                # MG batch decrement: subtract the (k+1)-th largest count;
                # anything left positive kept.  Items with partition
                # frequency > n_p/k always survive with positive weight.
                dec = sorted(counters.values(), reverse=True)[k]
                counters = {v: c - dec for v, c in counters.items() if c > dec}
        out = pd.DataFrame({item_col: list(counters.keys())})
        out["_part_rows"] = 0
        out["_null_rows"] = 0
        summary = pd.DataFrame(
            {item_col: [None], "_part_rows": [n_p], "_null_rows": [null_p]}
        )
        yield pd.concat([out, summary], ignore_index=True)

    # Bounded by partitions x (k + 1) rows — tiny by construction.
    stats = df.select(item_col).mapInPandas(mg_candidates, out_schema).collect()
    n = sum(r["_part_rows"] for r in stats)
    null_cnt = sum(r["_null_rows"] for r in stats)
    cand_vals = {r[item_col] for r in stats if r[item_col] is not None}

    spark = df.sparkSession
    cand = spark.createDataFrame(
        [(v,) for v in cand_vals], schema=f"`{item_col}` {item_t}"
    )
    out = (
        df.join(F.broadcast(cand), item_col, "left_semi")
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * k > F.lit(n))
    )
    if null_cnt * k > n:
        null_row = spark.createDataFrame(
            [(None, null_cnt)], schema=f"`{item_col}` {item_t}, `cnt` bigint"
        )
        out = out.unionByName(null_row)
    return out


def global_positions(
    df: DataFrame,
    order_cols: list[str],
    pos_col: str = "pos",
    partitions: int | None = None,
):
    """0-based dense global rank of every row under the total order
    ``order_cols`` — WITHOUT the unpartitioned-window scale killer.

    A global ``row_number() OVER (ORDER BY ...)`` moves the whole corpus
    through one task.  Instead: range-repartition on the order columns
    (ascending ranges land in ascending partition ids), count rows per
    partition (one tiny aggregate, ``partitions`` rows collected ONCE),
    and add the exclusive per-partition offset to a partition-local
    row_number — each window is bounded by one range partition.  The
    positions are independent of where the range boundaries fall, so the
    sampling inside repartitionByRange cannot affect the result; the
    frame is persisted so the size pass and the caller's pass
    see the SAME physical partitioning (register via
    ``caching.scoped_intermediates`` to bound the cache lifetime).

    ``order_cols`` must be a strict total order (include a unique id as
    the last column) — equal keys would otherwise get arbitrary but
    still dense/distinct positions within the tie.
    """
    from ..caching import maybe_persist

    nparts = partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = maybe_persist(df.repartitionByRange(nparts, *order_cols))
    sizes = (
        ranged.groupBy(F.spark_partition_id().alias("_pid"))
        .count()
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(sizes, key=lambda r: r["_pid"]):
        offsets[r["_pid"]] = acc
        acc += r["count"]
    if not offsets:
        return ranged.withColumn(pos_col, F.lit(0).cast("long"))
    off_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        ranged.withColumn("_pid", F.spark_partition_id())
        .withColumn(
            pos_col,
            (
                F.element_at(off_map, F.col("_pid"))
                + F.row_number().over(w)
                - F.lit(1)
            ).cast("long"),
        )
        .drop("_pid")
    )


def rendezvous_assign(
    key: Column, shards: list[str], seed: int = 7
) -> Column:
    """Rendezvous (highest-random-weight) shard assignment — the stable
    routing the fan-out sinks want when the shard set CHANGES: each key
    goes to the shard with the highest hash(key, shard), so adding or
    removing one shard reassigns only the keys that shard wins or loses
    (~1/n of them), never reshuffling the rest the way ``hash(key) % n``
    does (Thaler & Ravishankar 1998; memberlist/Ceph-style placement).

    Pure expression: |shards| hash terms folded through ``array_max``
    over (weight, shard) structs — scan-fused, deterministic via the
    repo-wide md5 hash, replayable in SQL.  Keep the shard list small
    (it inlines into the plan); thousands of shards want the dim-join
    form instead.
    """
    from ..functions.textstats import md5_hash60

    if not shards:
        raise ValueError("shards must be non-empty")
    if len(set(shards)) != len(shards):
        raise ValueError("shards must be distinct")
    pairs = [
        F.struct(
            md5_hash60(
                F.concat(
                    key.cast("string"), F.lit(f":hrw{seed}:"), F.lit(s)
                )
            ).alias("w"),
            F.lit(s).alias("shard"),
        )
        for s in shards
    ]
    return F.array_max(F.array(*pairs)).getField("shard")


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    top: int = 5,
) -> DataFrame:
    """Pre-shuffle skew diagnosis: the numbers that decide whether a
    ``groupBy``/``join`` on these keys needs salting BEFORE the 10-hour
    job is launched.

    One row per top-``top`` heaviest key plus one ``(all)`` summary row:
    ``n_rows`` (key's rows / total), ``n_keys`` (1 / distinct keys),
    ``share_ppm`` (exact integer parts-per-million of total),
    ``skew_ratio_x100`` (key size over the uniform per-key mean, x100
    integer), and ``rec_salts`` — the salt factor that would level the
    hot key to roughly the mean (ceil of the ratio, min 1), i.e. the
    ``n_salts`` to hand :func:`salted_repartition` / ``two_phase_agg``.

    Scale shape: one partial-aggregated groupBy to per-key counts, one
    tiny aggregate over those counts, and the shared skew-proof
    ``two_phase_top_n`` for the heavy keys — the diagnosis never costs
    what the undiagnosed shuffle would.  All integer arithmetic
    (ppm / x100 fixed point), so the report is engine-exact.
    """
    if top < 1:
        raise ValueError("top must be >= 1")
    key = F.concat_ws("\x01", *[F.col(c).cast("string") for c in key_cols])
    counts = df.groupBy(key.alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    totals = counts.agg(
        F.sum("n_rows").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    heavy = two_phase_top_n(
        counts, [], [F.desc("n_rows"), F.asc("key")], top
    )
    # overflow discipline: ratio/salts derive from the ppm-quantized
    # share, never from n_rows*n_keys directly — share_ppm <= 1e6, so
    # share_ppm*n_keys stays inside BIGINT up to ~9e12 distinct keys
    # (n_rows*n_keys would wrap at exactly the hot-table scale this
    # report exists to diagnose).  Sub-ppm keys quantize to ratio 0 —
    # by definition not the skew problem.
    per_key = heavy.crossJoin(F.broadcast(totals)).select(
        "key",
        "n_rows",
        F.col("n_keys").cast("long").alias("n_keys"),
        F.expr("(n_rows * 1000000) div total").alias("share_ppm"),
        F.expr(
            "((n_rows * 1000000) div total * n_keys) div 10000"
        ).alias("skew_ratio_x100"),
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(
                "((n_rows * 1000000) div total * n_keys + 999999)"
                " div 1000000"
            ),
        ).alias("rec_salts"),
    )
    summary = totals.select(
        F.lit("(all)").alias("key"),
        F.col("total").alias("n_rows"),
        F.col("n_keys").cast("long").alias("n_keys"),
        F.lit(1000000).cast("long").alias("share_ppm"),
        F.lit(100).cast("long").alias("skew_ratio_x100"),
        F.lit(1).cast("long").alias("rec_salts"),
    )
    return per_key.unionByName(summary)
