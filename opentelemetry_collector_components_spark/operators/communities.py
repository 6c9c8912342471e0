"""Community detection: deterministic synchronous label propagation.

Raghavan et al. (2007) LPA, made engine-exact: every node starts as
its own label; each round every node adopts the MODE of its neighbors'
labels with ties broken by the smallest label; after a fixed number of
synchronous rounds the surviving labels name the communities.  The
repo's component operators (``dedup.near_dedup_components``,
``linkage`` clusters) answer "what is CONNECTED"; LPA answers "what is
DENSELY connected" — host-graph neighborhoods, user-interaction
cliques, near-dup families that share hubs without being one blob.

Determinism: the classic algorithm breaks ties randomly and updates
asynchronously; both choices are un-replayable.  Synchronous rounds +
smallest-label ties make every round a pure function of the previous
labeling (the known cost: a perfectly bipartite region can oscillate
— with a fixed round budget that is still deterministic, and the
practical fix the literature uses — one extra round — is available by
bumping ``rounds``).  Label order follows the node column's natural
type ordering; the oracle applies the same ORDER BY.

Scale shape: per round, one shuffle join of the (persisted,
symmetrized) edge table against the current labeling, one partial-agg
groupBy(node, label), one per-node window on the grouped table
(bounded by degree, not row volume), then ``localCheckpoint`` to
truncate lineage — the same round discipline as ``webgraph.bfs_depths``.
At production scale, pre-bucket edges by src so every round reuses
the layout instead of re-shuffling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _symmetrize(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    fwd = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    rev = edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
    return fwd.unionAll(rev).where(F.col("src") != F.col("dst")).distinct()


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 4,
) -> DataFrame:
    """Community labels after ``rounds`` synchronous LPA rounds over the
    symmetrized edge list (self-loops dropped): (node, community).
    Isolated nodes never appear in an edge list and so are absent —
    union them back as singletons upstream if needed."""
    from ..caching import maybe_persist

    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    e = maybe_persist(_symmetrize(edges, src_col, dst_col))
    labels = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    w = Window.partitionBy("node").orderBy(F.desc("_c"), F.asc("label"))
    for _ in range(rounds):
        nbr = e.join(
            labels.withColumnRenamed("node", "_n"),
            e["src"] == F.col("_n"),
            "inner",
        ).select(F.col("dst").alias("node"), "label")
        labels = (
            nbr.groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("_c"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("node", "label")
            .localCheckpoint(eager=False)
        )
    return labels.select("node", F.col("label").alias("community"))


def label_propagation_oracle_sql(
    edges_sql: str,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 4,
) -> str:
    """DuckDB replay with the rounds unrolled as CTE stages (the
    recursive-CTE form cannot aggregate over the recursion; a fixed
    unroll replays the exact synchronous semantics)."""
    stages = [
        f"""edges AS (
        SELECT {src_col} AS src, {dst_col} AS dst
        FROM ({edges_sql}) e0 WHERE {src_col} <> {dst_col}
        UNION
        SELECT {dst_col} AS src, {src_col} AS dst
        FROM ({edges_sql}) e0 WHERE {src_col} <> {dst_col}
    )""",
        """l0 AS (
        SELECT DISTINCT src AS node, src AS label FROM edges
    )""",
    ]
    for r in range(1, rounds + 1):
        stages.append(f"""l{r} AS (
        SELECT node, label FROM (
            SELECT e.dst AS node, l.label,
                   ROW_NUMBER() OVER (PARTITION BY e.dst
                       ORDER BY COUNT(*) DESC, l.label) AS rn
            FROM edges e JOIN l{r - 1} l ON e.src = l.node
            GROUP BY e.dst, l.label
        ) WHERE rn = 1
    )""")
    ctes = ",\n    ".join(stages)
    return f"""
    WITH {ctes}
    SELECT node, label AS community FROM l{rounds}
    """
