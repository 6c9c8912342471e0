"""DBSCAN over a precomputed eps-neighbor pair list.

Density-based clustering for the embedding corpus — topic islands,
template families, scraped-mirror groups — where k-means (the IVF
path in ``similarity.py``) forces every point into a cell: DBSCAN
instead labels dense cores, attaches borders, and leaves sparse
points as noise (Ester et al., KDD 1996).

The operator is deliberately PAIRS-DRIVEN: eps-neighborhood discovery
is the expensive, strategy-dependent stage, and every strategy this
repo already verifies produces the same (id_a, id_b) shape —
``similarity.embedding_near_pairs`` exact (gate scale) or LSH-blocked
(corpus scale), ``dedup.minhash_lsh_pairs`` for token Jaccard
neighborhoods.  Plug any of them in; the clustering itself is:

- degree count  -> core points (>= min_pts - 1 neighbors, i.e. the
  standard |N_eps| >= min_pts counting the point itself)
- connected components over CORE-CORE edges via the shared
  ``dedup.near_dedup_components`` min-label propagation (cluster id =
  min core id, deterministic)
- border points (non-core with a core neighbor) attach to the MIN
  core neighbor's cluster — the standard DBSCAN border ambiguity
  resolved by a pinned rule instead of scan order
- everything else is noise (cluster NULL)

Scale shape: two partial-aggregated groupBys (degree, border-min) +
the component propagation's per-round join — all bounded by the pair
list, which the caller's blocking strategy already made subquadratic.
No window, no collect, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import maybe_persist


def dbscan_from_pairs(
    ids: DataFrame,
    pairs: DataFrame,
    min_pts: int,
    id_col: str = "id",
) -> DataFrame:
    """Cluster every row of ``ids``: (``id_col``, role, cluster) with
    role in {'core', 'border', 'noise'} and cluster NULL iff noise.
    ``pairs`` carries (id_a, id_b) eps-neighbor pairs, each unordered
    pair once."""
    if min_pts < 2:
        raise ValueError("min_pts must be >= 2 (min_pts=1 makes every"
                         " point a singleton core)")
    from .dedup import near_dedup_components

    points = ids.select(F.col(id_col).alias("id")).distinct()
    # persisted: the pair list is the caller's EXPENSIVE stage (LSH
    # bucket join + cosine verify at corpus scale) and is referenced by
    # the undirected union (twice), the core-core edge join, and the
    # component propagation — without this it re-executes per reference
    # (r6: was ~3x the pair-stage cost per run)
    edges = maybe_persist(
        pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d")),
    )
    und = maybe_persist(
        edges.unionByName(
            edges.select(F.col("d").alias("s"), F.col("s").alias("d"))
        ),
    )
    deg = und.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    core = maybe_persist(
        deg.where(F.col("deg") >= min_pts - 1).select(
            F.col("s").alias("id")
        ),
    )
    core_edges = (
        edges.join(core.withColumnRenamed("id", "s"), "s")
        .join(core.withColumnRenamed("id", "d"), "d")
        .select(F.col("s").alias("id_a"), F.col("d").alias("id_b"))
    )
    comp = near_dedup_components(core_edges, id_col="id").select(
        "id", F.col("component").alias("cluster")
    )
    # cores with no core neighbor anchor their own singleton cluster
    core_clusters = maybe_persist(
        core.join(comp, "id", "left").select(
            "id", F.coalesce("cluster", F.col("id")).alias("cluster")
        ),
    )
    border = (
        und.join(core_clusters.withColumnRenamed("id", "d"), "d")
        .join(core.withColumnRenamed("id", "s"), "s", "left_anti")
        .groupBy("s")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("s").alias("id"), "cluster")
    )
    labeled = core_clusters.select(
        "id", F.lit("core").alias("role"), "cluster"
    ).unionByName(border.select("id", F.lit("border").alias("role"), "cluster"))
    return (
        points.join(labeled, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("role", F.lit("noise")).alias("role"),
            "cluster",
        )
    )
