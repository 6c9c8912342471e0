"""Event-funnel and cohort-retention analytics over event streams.

The two workhorse product-analytics shapes, expressed so each stays one
or two partial-aggregated shuffles at 100 TB:

- **Funnel**: how many users performed stage 1, then stage 2 strictly
  after it, then stage 3 strictly after that (first-touch semantics:
  each stage anchors at its EARLIEST qualifying time, which maximizes
  later stages' chances and is the standard product-analytics rule).
  One filtered min-aggregate per stage plus one shuffle join per stage
  against the (user, anchor) table — never a per-user event sort, never
  a collect_list of a user's history (a hot user's full history in one
  array is the memory hazard this layout avoids).

- **Cohort retention**: users grouped by first-activity week, counted
  per (cohort week, week offset).  Two aggregates (first-activity and
  distinct user-week activity) and one equi-join on user.

Week arithmetic stays in whole truncated weeks (datediff div 7 — both
engines integer-exact), never float epoch math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_stages(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    stages: list[str],
) -> DataFrame:
    """First-touch funnel: stage i counts users with an event of type
    stages[i] strictly after their stage i-1 anchor time.  Returns
    (stage int, stage_name string, users long) — |stages| rows."""
    from ..caching import maybe_persist

    if len(stages) < 2:
        raise ValueError(f"need >= 2 stages, got {stages}")
    if len(set(stages)) != len(stages):
        raise ValueError(f"stages must be distinct, got {stages}")
    # each anchor table is persisted: stage i's count is an action, and
    # stage i+1 reuses the same table — without the persist each stage
    # would recompute the whole prefix chain (O(S^2) scans)
    anchors = maybe_persist(
        df.where(F.col(type_col) == stages[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t")),
    )
    counts = [anchors.count()]
    for stage in stages[1:]:
        anchors = maybe_persist(
            df.where(F.col(type_col) == stage)
            .join(anchors, user_col)
            .where(F.col(ts_col) > F.col("_t"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("_t")),
        )
        counts.append(anchors.count())
    return df.sparkSession.createDataFrame(
        [(i + 1, s, c) for i, (s, c) in enumerate(zip(stages, counts))],
        schema="stage int, stage_name string, users long",
    )


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Weekly cohort retention: (cohort_week timestamp, week_offset int,
    users long) — users first active in cohort_week who were active
    week_offset weeks later.  week_offset 0 rows equal cohort sizes."""
    first = (
        df.groupBy(user_col)
        .agg(F.date_trunc("week", F.min(ts_col)).alias("_w0"))
    )
    activity = df.select(
        user_col, F.date_trunc("week", F.col(ts_col)).alias("_w")
    ).distinct()
    return (
        activity.join(first, user_col)
        .groupBy(
            F.col("_w0").alias("cohort_week"),
            F.expr("datediff(_w, _w0) div 7").cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("users"))
    )


def session_paths(
    df: DataFrame,
    key_cols: list[str],
    session_col: str,
    ts_col: str,
    step_col: str,
    tiebreak_col: str,
    max_steps: int = 5,
    sep: str = ">",
) -> DataFrame:
    """One row per session: the ordered first-``max_steps`` step path
    ('view>click>purchase') plus the session's total step count — the
    user-journey mining table ("how do sessions actually flow"), the
    aggregate a sankey / top-paths panel reads.

    Input is a sessionized frame (``sessions.sessionize`` output or any
    frame carrying a session id).  One groupBy per (key, session):
    ``sort_array(collect_list(struct(ts, tiebreak, step)))`` orders
    steps deterministically inside the aggregate, then a JVM
    slice/transform/array_join renders the path prefix.  The collected
    array is bounded by the SESSION's size (sessions are gap-bounded by
    construction), not by the key's history — the same boundedness
    argument as session_stats; truncation to ``max_steps`` happens
    after ordering, so the prefix is exact.
    """
    if max_steps < 1:
        raise ValueError("max_steps must be >= 1")
    arr = F.sort_array(
        F.collect_list(
            F.struct(
                F.col(ts_col).alias("_t"),
                F.col(tiebreak_col).alias("_tb"),
                F.col(step_col).alias("_s"),
            )
        )
    )
    return df.groupBy(*key_cols, session_col).agg(
        F.array_join(
            F.transform(F.slice(arr, 1, max_steps), lambda x: x["_s"]), sep
        ).alias("path"),
        F.count(F.lit(1)).alias("steps"),
    )


def top_paths(per_session: DataFrame, n: int = 20) -> DataFrame:
    """Top-N session paths by frequency (count desc, path asc — a total
    order, so the N-boundary is deterministic).  Two-phase skew-proof
    rank over the per-path counts: one partial-aggregated shuffle plus
    the bounded candidate re-rank, never a global sort of all paths."""
    from .partition import two_phase_top_n

    counts = per_session.groupBy("path").agg(
        F.count(F.lit(1)).alias("n")
    )
    return two_phase_top_n(counts, [], [F.desc("n"), F.asc("path")], n).select(
        "path", "n"
    )
