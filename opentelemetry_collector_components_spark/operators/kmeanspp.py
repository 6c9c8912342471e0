"""k-means|| seeding (scalable k-means++) — exact-integer, oracle-replayable.

Bahmani et al., VLDB 2012: instead of k-means++'s k sequential passes,
oversample ~l candidates per round for a few rounds — each point joins
the candidate set with probability ``l · d²(x, C) / φ(C)`` — then weight
the candidates by how many points they attract and recluster that tiny
weighted set driver-side.  This is THE production seeding for
``similarity.py``'s IVF/k-means stages at corpus scale: every round is
one scan, the candidate set stays dims·|C|-bounded, and the corpus never
shuffles.

Determinism (the repo's quantized-iteration mold — ``pca.py``,
``graph.pagerank_quantized``): coordinates quantize once to
``round(x·scale)`` BIGINTs so squared distances are exact; the sampling
coin is the house md5-60bit hash of ``(id, round)``, selected when
``coin · φ < l · d² · 2^60`` — the comparison CROSS-MULTIPLIED in
DECIMAL(38,0) (both sides < 1e38; a divided threshold would overflow
BIGINT whenever l·d² ≥ 8φ and silently drop exactly the farthest
points), so "random" selection is a pure function of the data replayed
exactly by the SQL oracle, with no RNG state, no truncation bias, and no
resampling drift across reruns.

Scale shape: per round ONE job (min-distance fold against the candidate
literals + a 1-row φ aggregate + a collect of the expected-l new
candidates); the weight pass is one scan with an array_min argmin.
Distances are JVM zip_with folds — |C|·dims expression terms, |C| ≤
1 + l·rounds by construction.  The final weighted recluster of ≤ that
many rows is the caller's driver-side step (deterministic given the
weights this emits), exactly as the paper prescribes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HASH_SPACE = 1 << 60


def _d2(qcol: str, center: list[int]) -> Column:
    lit = "array(" + ",".join(f"{v}L" for v in center) + ")"
    return F.expr(
        f"aggregate(zip_with({qcol}, {lit}, (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, t) -> acc + t)"
    )


def kmeans_parallel_seeds(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    l: int = 4,
    rounds: int = 3,
    scale: int = 1000,
    seed: str = "kmpp",
) -> DataFrame:
    """Returns the candidate table ``(cand_id, round_added, weight)``:
    round 0 is the deterministic first seed (min id-hash), rounds 1..R
    the oversampled additions, ``weight`` = points attracted (nearest
    candidate, ties to the lowest id; a duplicate-vector candidate can
    legitimately weigh 0)."""
    from ..caching import maybe_persist
    from ..functions.textstats import md5_hash60

    if l < 1 or rounds < 1 or scale < 1:
        raise ValueError("l, rounds, scale must be >= 1")
    q = F.expr(
        f"transform({vec_col},"
        f" x -> CAST(ROUND(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"
    )
    qdf = maybe_persist(emb.select(F.col(id_col).alias("_id"), q.alias("_q")))
    first = (
        qdf.select(
            "_id", "_q", md5_hash60(F.col("_id").cast("string")).alias("_h")
        )
        .orderBy("_h", "_id")
        .limit(1)
        .collect()
    )
    if not first:
        raise ValueError("embedding table is empty")
    centers: list[tuple] = [(first[0]._id, list(first[0]._q), 0)]

    for r in range(1, rounds + 1):
        mind2 = F.least(*[_d2("_q", c[1]) for c in centers]) if len(centers) > 1 else _d2("_q", centers[0][1])
        scored = qdf.withColumn("_d2", mind2)
        phi = scored.agg(F.sum("_d2")).collect()[0][0]
        if phi == 0:  # every point IS a center already
            break
        coin = md5_hash60(
            F.concat(F.col("_id").cast("string"), F.lit(f":{seed}:{r}"))
        )
        selected = (
            coin.cast("decimal(38,0)") * F.lit(phi)
            < F.lit(l).cast("decimal(38,0)") * F.col("_d2") * F.lit(_HASH_SPACE)
        )
        picked = (
            scored.where((F.col("_d2") > 0) & selected)
            .select("_id", "_q")
            .orderBy("_id")
            .collect()
        )
        centers.extend((row._id, list(row._q), r) for row in picked)

    near = F.array_min(
        F.array(
            *[
                F.struct(_d2("_q", c[1]).alias("d2"), F.lit(c[0]).alias("cid"))
                for c in centers
            ]
        )
    )["cid"]
    weights = qdf.select(near.alias("cid")).groupBy("cid").agg(
        F.count(F.lit(1)).alias("weight")
    )
    cand = emb.sparkSession.createDataFrame(
        [(c[0], c[2]) for c in centers], "cand_id long, round_added int"
    )
    return cand.join(
        weights.withColumnRenamed("cid", "cand_id"), "cand_id", "left"
    ).select(
        "cand_id",
        "round_added",
        F.coalesce("weight", F.lit(0)).cast("long").alias("weight"),
    )
