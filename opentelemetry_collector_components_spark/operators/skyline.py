"""Skyline / Pareto frontier: rows no other row dominates.

The multi-criteria shortlist operator (Borzsony/Kossmann/Stocker, ICDE
2001): "cheapest AND closest hotels", "highest-quality AND
least-duplicated sources", "most-traffic AND fewest-errors hosts".  A
row is dominated when some other row is at least as good on EVERY
criterion and strictly better on at least one; the skyline is the
undominated set — exactly the rows a weighted score might unfairly
drop, whatever the weights.

Distributed shape (the standard two-phase argument, same family as
``partition.two_phase_top_n``): a global skyline row survives ANY
subset's local skyline, so phase 1 prunes each Arrow batch to its
local frontier (vectorized numpy dominance, Python touches candidate
batches only), and phase 2 settles exactness with one dominance
anti-join among the surviving candidates.  Phase-2 cost is quadratic
in the FRONTIER size, not the input — data-dependent by nature
(anti-correlated criteria inflate frontiers; that is the operator's
honest complexity, not an implementation artifact).

Ties: identical criterion vectors dominate nobody, so duplicates all
survive — callers wanting one representative per point dedupe first.
Criterion columns must be non-null, non-NaN numerics; violating rows
are rejected loudly (not comparable, and silently dropping — or worse,
letting Spark's NaN-sorts-largest semantics crown a NaN row the sole
"winner" — would turn the audit into a lie).  The guard runs on the
phase-1 FRONTIER, not the input: NULL/NaN comparisons are false in
numpy, so such rows are never dominated locally and always survive to
the candidate set, where the scan is frontier-sized.

Phase-1 comparisons happen in each column's native dtype (per-dim
loop, no float64 cast), so int64 criteria past 2^53 — nanosecond
durations, byte counters — never collide; phase 2 compares the exact
Spark columns.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import maybe_persist


def _local_frontier(
    pdf: pd.DataFrame, cols: list[str], signs: list[int]
) -> pd.DataFrame:
    import numpy as np

    vecs = [pdf[c].to_numpy() for c in cols]  # native dtypes, no cast
    for v in vecs:
        # int columns with NULLs arrive as float64+NaN via Arrow, so
        # this one check catches NULL and NaN for every numeric dtype;
        # raising here fails the job loudly instead of letting the
        # write-back cast produce a cryptic Arrow error
        if v.dtype.kind == "f" and pd.isna(v).any():
            raise ValueError(
                f"criterion columns {cols} contain NULL or NaN —"
                " not comparable"
            )
    n = len(pdf)
    keep = np.ones(n, dtype=bool)
    # vectorized pairwise dominance, row-chunked to bound memory
    chunk = max(1, 2_000_000 // max(n, 1))
    for s in range(0, n, chunk):
        ge = None  # (c, n): other >= block on every dim, sign-aware
        gt = None
        for v, sign in zip(vecs, signs):
            block = v[s : s + chunk]
            d_ge = (
                v[None, :] >= block[:, None]
                if sign > 0
                else v[None, :] <= block[:, None]
            )
            d_gt = (
                v[None, :] > block[:, None]
                if sign > 0
                else v[None, :] < block[:, None]
            )
            ge = d_ge if ge is None else ge & d_ge
            gt = d_gt if gt is None else gt | d_gt
        dominated = (ge & gt).any(axis=1)
        keep[s : s + chunk] &= ~dominated
    return pdf[keep]


def skyline(
    df: DataFrame,
    maximize: list[str] | None = None,
    minimize: list[str] | None = None,
) -> DataFrame:
    """Undominated rows of ``df`` under the given criteria.  All other
    columns pass through untouched."""
    maximize = list(maximize or [])
    minimize = list(minimize or [])
    cols = maximize + minimize
    if not cols:
        raise ValueError("at least one criterion column is required")
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate criterion columns in {cols}")
    signs = [1] * len(maximize) + [-1] * len(minimize)

    def prune(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _local_frontier(pdf, cols, signs)

    cand = maybe_persist(df.mapInPandas(prune, df.schema))
    # Materialize the persist once here so both join sides below read
    # the cache instead of re-running the prune; the NULL/NaN guard
    # fires inside the UDF during this same pass (no separate guard
    # scan of the input) and is re-raised as the documented ValueError.
    try:
        cand.count()
    except Exception as e:  # Spark wraps the task's ValueError
        if "not comparable" in str(e):
            raise ValueError(
                f"criterion columns {cols} contain NULL or NaN —"
                " not comparable"
            ) from e
        raise
    a = cand.alias("a")
    b = cand.alias("b")
    ge = None
    gt = None
    for c, s in zip(cols, signs):
        bc, ac = F.col(f"b.{c}") * s, F.col(f"a.{c}") * s
        ge = (bc >= ac) if ge is None else ge & (bc >= ac)
        gt = (bc > ac) if gt is None else gt | (bc > ac)
    return a.join(b, ge & gt, "left_anti")
