"""Mutual information between categorical columns: feature relevance.

The feature-selection readout for the quality classifier and the
segmentation audit ("does this attribute actually carry signal about
that one?"): MI in nats plus both marginal entropies and the
normalized MI, from exact BIGINT contingency counts.

    PMI(a,b)  = ln( c_ab * N / (c_a * c_b) )
    MI        = (1/N) * sum_ab c_ab * PMI(a,b)
    H(A)      = (1/N) * sum_a  c_a * ln(N / c_a)
    NMI       = MI / min(H(A), H(B))      (NULL when either H is 0)

Fixed-point discipline (same as ``textmine.pmi_collocations``): each
cell's PMI is quantized ONCE as ``floor(1e6 * ln(<one double chain of
exact BIGINT sub-products>))``; MI/H then stay in integer arithmetic
(``sum(c * pmi_micro) div N``) — exactly associative, so both engines
land on identical micro-nat values.  BIGINT sub-products ``c_ab * N``
are exact below ~3e9 rows (the PMI module bound; past that, pre-bucket
or sample).

Scale shape: ONE joint groupBy touches the raw rows; marginals and N
are exact sums over the (cardinality-bounded, persisted) joint table
— ``c_a = sum_b c_ab`` — so the input is scanned exactly once however
many readouts (cells, MI, both entropies) are derived.  High-
cardinality columns (raw user ids) belong in a bucketed form first —
MI toward a near-unique key is approximately H and means nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import maybe_persist

MICRO = 1_000_000


def _pmi_micro(num: str, den: str) -> F.Column:
    return F.floor(
        F.lit(1000000.0)
        * F.log(F.expr(f"CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)"))
    )


def _contingency(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """The one raw-row scan: persisted (a, b, c_ab) joint counts."""
    a, b = F.col(col_a).alias("a"), F.col(col_b).alias("b")
    base = df.select(a, b).where(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    )
    return maybe_persist(base.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab")))


def _pmi_cells(joint: DataFrame) -> DataFrame:
    ma = joint.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    mb = joint.groupBy("b").agg(F.sum("c_ab").alias("c_b"))
    n = joint.agg(F.sum("c_ab").alias("n"))
    return (
        joint.join(ma, "a")
        .join(mb, "b")
        .crossJoin(F.broadcast(n))
        .select(
            "a", "b", "c_ab", "c_a", "c_b",
            _pmi_micro("c_ab * n", "c_a * c_b").alias("pmi_micro"),
        )
    )


def pairwise_pmi(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Per-cell contingency table: (a, b, c_ab, c_a, c_b, pmi_micro) —
    the drill-down behind :func:`mutual_information`'s single number."""
    return _pmi_cells(_contingency(df, col_a, col_b))


def mutual_information(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """One-row readout: (n, cells, mi_micro, h_a_micro, h_b_micro,
    nmi_ppm).  ``nmi_ppm`` is NULL when either marginal entropy is 0
    (a constant column carries no information to normalize by)."""
    joint = _contingency(df, col_a, col_b)
    cells = _pmi_cells(joint)
    n_row = joint.agg(F.sum("c_ab").alias("n"))

    def h_micro(key: str) -> DataFrame:
        return (
            joint.groupBy(key)
            .agg(F.sum("c_ab").alias("c"))
            .crossJoin(F.broadcast(n_row))
            .select(
                (F.col("c") * _pmi_micro("n", "c")).alias("contrib"),
                "n",
            )
            .agg(F.expr("CAST(sum(contrib) div first(n) AS BIGINT)").alias("h"))
        )

    # the per-cell floors can push an independent pair's sum a hair
    # below 0; clamp BEFORE the division so the truncating `div` agrees
    # with the oracle's floor `//` (they differ only on negatives) and
    # the readout honestly says "no detectable signal"
    mi = cells.crossJoin(F.broadcast(n_row)).agg(
        F.expr(
            "CAST(greatest(sum(c_ab * pmi_micro), 0L) div first(n)"
            " AS BIGINT)"
        ).alias("mi"),
        F.count(F.lit(1)).alias("cells"),
        F.first("n").alias("n"),
    )
    ha = h_micro("a").withColumnRenamed("h", "h_a_micro")
    hb = h_micro("b").withColumnRenamed("h", "h_b_micro")
    out = mi.crossJoin(ha).crossJoin(hb)
    h_min = F.least("h_a_micro", "h_b_micro")
    return out.select(
        F.col("n").cast("long").alias("n"),
        F.col("cells").cast("long").alias("cells"),
        F.col("mi").alias("mi_micro"),
        "h_a_micro",
        "h_b_micro",
        F.when(
            h_min > 0,
            F.expr("(mi * 1000000) div least(h_a_micro, h_b_micro)"),
        ).alias("nmi_ppm"),
    )
