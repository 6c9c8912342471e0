"""Pairwise association mining over baskets: support, confidence, lift.

The market-basket / co-navigation operator ("users who touch A touch
B"; "hosts co-visited in a session"): distinct (basket, item) pairs,
co-occurrence counts for item pairs, and the three classic rule
metrics — all in EXACT integer fixed point (ppm), so the report is
engine-exact with no float boundary:

    jaccard_ppm     = n_ab * 1e6 div (n_a + n_b - n_ab)
    confidence_ppm  = n_ab * 1e6 div n_a           (rule a -> b)
    lift_ppm        = n_ab * n_baskets * 1e6 div (n_a * n_b)

This complements ``partition.frequent_items_verified`` (single heavy
hitters) and ``textmine.pmi_collocations`` (ADJACENT token pairs):
here co-occurrence is set membership in a basket, order-free.

Scale shape: one distinct, one per-item count, and a self-equi-join on
the basket key restricted to ``item_a < item_b`` — the join's cost is
sum over baskets of k^2/2 for basket size k, so a single pathological
basket (a bot touching every item) dominates everything.
``max_basket_size`` drops those baskets up front (the standard
frequent-itemset mitigation — a basket that large carries no
association signal anyway), which bounds the explosion by
construction; the dropped count is reported via ``skew_report``-style
inspection upstream, not silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


def pair_associations(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket_size: int = 100,
) -> DataFrame:
    """(item_a, item_b, n_ab, n_a, n_b, jaccard_ppm, confidence_ppm,
    lift_ppm) for unordered pairs with ``n_ab >= min_support``;
    ``confidence_ppm`` is the a->b direction (swap for the other).
    Baskets larger than ``max_basket_size`` distinct items are dropped
    before pairing."""
    if min_support < 1:
        raise ValueError("min_support must be >= 1")
    if max_basket_size < 2:
        raise ValueError("max_basket_size must be >= 2")
    from ..caching import maybe_persist

    bi = (
        df.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        )
        .where(F.col(item_col).isNotNull())
        .distinct()
    )
    sizes = bi.groupBy("basket").agg(F.count(F.lit(1)).alias("_k"))
    # persisted: the filtered basket-item table feeds four consumers
    # (n_baskets count, per-item counts, both self-join sides) — without
    # this the distinct + size-filter pipeline executes four times
    kept = maybe_persist(
        bi.join(
            sizes.where(F.col("_k") <= max_basket_size).select("basket"),
            "basket",
        ),
    )
    n_baskets = kept.select("basket").distinct().count()
    items = kept.groupBy("item").agg(F.count(F.lit(1)).alias("n_i"))
    a = kept.select("basket", F.col("item").alias("item_a"))
    b = kept.select("basket", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "basket")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_support)
    )
    out = (
        pairs.join(items.select(F.col("item").alias("item_a"),
                                F.col("n_i").alias("n_a")), "item_a")
        .join(items.select(F.col("item").alias("item_b"),
                           F.col("n_i").alias("n_b")), "item_b")
    )
    return out.select(
        "item_a", "item_b", "n_ab", "n_a", "n_b",
        F.expr(f"(n_ab * {MICRO}) div (n_a + n_b - n_ab)").alias(
            "jaccard_ppm"
        ),
        F.expr(f"(n_ab * {MICRO}) div n_a").alias("confidence_ppm"),
        F.expr(
            f"(n_ab * {n_baskets}L * {MICRO}) div (n_a * n_b)"
        ).alias("lift_ppm"),
    )
