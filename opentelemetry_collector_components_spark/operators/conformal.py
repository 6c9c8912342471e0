"""Split-conformal prediction intervals: distribution-free error bands.

The uncertainty wrapper for every scoring model in the pipeline (quality
LR, forecast, linkage): split conformal prediction (Papadopoulos et al.
2002; Vovk's inductive CP) holds out a calibration slice, takes the
k-th smallest absolute residual with ``k = ceil((n+1)*(1-alpha))``, and
guarantees ``P(|y - yhat| <= threshold) >= 1 - alpha`` on exchangeable
data — no distributional assumption, any model.  The audit half
measures realized coverage on the disjoint test slice, the number a
dashboard actually wants next to the band.

Scale shape: the calibration/test split is the repo's md5-uniform
bucket (scan-fused, deterministic, engine-portable); the k-th order
statistic comes from ``quantiles.exact_quantiles`` — iterative range
narrowing, bounded memory, NO global sort (the naive ``orderBy.limit``
selection is the plan this operator exists to avoid at 10^12 rows);
coverage is one partial-aggregated count.  Driver holds three scalars
(n, k, threshold), never rows.

Exchangeability caveat (documented, not hidden): the guarantee needs
calibration rows exchangeable with test rows — split by the same
randomization unit the model serves (here: the row id), and never
calibrate on rows the model trained on.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import md5_hash60
from .quantiles import exact_quantiles


def conformal_split(unit: Column, seed: str, calib_pct: int) -> Column:
    """True on calibration rows: md5 bucket in [0, calib_pct) of 100."""
    if not 0 < calib_pct < 100:
        raise ValueError("calib_pct must be in (0, 100)")
    h = F.pmod(
        md5_hash60(F.concat(unit.cast("string"), F.lit(f":conf:{seed}"))),
        F.lit(100),
    )
    return h < calib_pct


def split_conformal(
    df: DataFrame,
    id_col: str,
    pred_col: str,
    y_col: str,
    alpha: float = 0.1,
    calib_pct: int = 50,
    seed: str = "v1",
) -> DataFrame:
    """One-row readout: (n_calib, k, threshold, n_test, covered,
    coverage) for the symmetric band ``pred ± threshold``.

    ``threshold`` is the exact k-th smallest ``|y - pred|`` on the
    calibration slice (k = min(n, ceil((n+1)*(1-alpha)))); ``coverage``
    is the realized fraction of test rows inside the band, rounded to
    4 dp.  Integer-typed residuals stay integers end-to-end (the
    cross-engine-exact form the registry gate uses).
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    from ..caching import maybe_persist

    is_calib = conformal_split(F.col(id_col), seed, calib_pct)
    resid = F.abs(F.col(y_col) - F.col(pred_col))
    # persisted: exact_quantiles re-scans its input each narrowing round
    # (its contract says persist upstream), and the coverage aggregate
    # scans once more — without this the md5 split and whatever join
    # produced pred_col re-execute ~rounds+3 times
    scored = maybe_persist(df.select(resid.alias("resid"), is_calib.alias("is_calib")))
    calib = scored.where("is_calib")
    both = scored.agg(
        F.sum(F.col("is_calib").cast("long")).alias("nc"),
        F.sum((~F.col("is_calib")).cast("long")).alias("nt"),
    ).collect()[0]
    n, n_test = both["nc"] or 0, both["nt"] or 0
    if n == 0:
        raise ValueError("empty calibration slice")
    if n_test == 0:
        raise ValueError("empty test slice — nothing to audit coverage on")
    k = min(n, math.ceil((n + 1) * (1.0 - alpha)))
    thr_row = exact_quantiles(calib, "resid", [(k - 0.5) / n]).collect()[0]
    thr = thr_row["value"]
    return (
        scored.where(~F.col("is_calib"))
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum((F.col("resid") <= F.lit(thr)).cast("long")).alias(
                "covered"
            ),
        )
        .select(
            F.lit(n).cast("long").alias("n_calib"),
            F.lit(k).cast("long").alias("k"),
            F.lit(thr).alias("threshold"),
            F.col("n_test").cast("long").alias("n_test"),
            "covered",
            F.round(F.col("covered") / F.col("n_test"), 4).alias("coverage"),
        )
    )
