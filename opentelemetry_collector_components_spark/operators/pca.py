"""Top-principal-component power iteration over embeddings — exact-integer.

The corpus-scale "what direction dominates this embedding table" readout
(drift direction, dedup-cluster axis, whitening prep).  Classic power
iteration — w = Σ_i (c_i · v) c_i over mean-centered vectors, renormalize,
repeat — restructured the way this repo does iterative numerics
(``graph.pagerank_quantized``, ``classifier.train_logreg_quantized``):

- every quantity is an integer: coordinates quantize once to
  ``CAST(ROUND(x * scale) AS BIGINT)``, the mean subtracts as a
  truncating sign-guarded div, and the iterate renormalizes to
  ``out_scale`` milli-units by the max-|w| component — so the whole
  T-iteration trajectory is associative, partition-order-free, and
  replayable CTE-for-CTE by an engine oracle (no float eigensolver to
  disagree with);
- one aggregation job per iteration: the dot product is a JVM
  ``zip_with``/``aggregate`` fold against the CURRENT iterate inlined as
  an array literal (model-broadcast pattern), and w comes from one
  posexplode + partial-aggregated groupBy — the corpus is never joined
  with itself and never shuffles by id;
- driver state is dims-bounded: per iteration one dims-row collect (w),
  nothing proportional to rows.

Magnitude budget (BIGINT-safe by construction): |c| ≤ 2·scale·|x|_max,
|dot| ≤ dims·|c|·out_scale, per-term |c·dot| ≤ dims·c²·out_scale, and the
Σ over n rows must stay under 2^63 — callers with extreme coordinates
lower ``scale``; the ``max_rows`` guard raises rather than wrapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tdiv(num: int, den: int) -> int:
    """Truncate-toward-zero integer division (positive numerators only in
    each branch — Python // and SQL // agree there)."""
    return -((-num) // den) if num < 0 else num // den


def pca_power_quantized(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 2,
    scale: int = 100,
    out_scale: int = 1000,
    max_rows: int = 100_000_000,
) -> tuple[DataFrame, list[int]]:
    """Returns ``(scores, weights)``: per-row projection onto the final
    iterate — ``(id_col, pc1_score)``, exact BIGINT — and the final
    integer weight vector (milli-units of the dominant component, up to
    overall sign: power iteration converges to ±v1 and the deterministic
    all-ones start fixes which).
    """
    from ..caching import maybe_persist

    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if scale < 1 or out_scale < 1:
        raise ValueError("scale and out_scale must be >= 1")
    # ONE pre-pass job instead of three (count + size-span + sums, r6):
    # posexplode_outer keeps empty/NULL-vector rows as a j=NULL group, so
    # the per-coordinate groups carry the row count, the size span check
    # (ragged <=> some coordinate's count differs from coordinate 0's),
    # and the quantized sums together.  At corpus scale that is one scan
    # of the embedding column, not three.
    q = F.expr(f"transform({vec_col}, x -> CAST(ROUND(x * {scale}) AS BIGINT))")
    sums = (
        emb.select(F.posexplode_outer(q).alias("j", "qv"))
        .groupBy("j")
        .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    c_null = sum(r.cnt for r in sums if r.j is None)
    body = [r for r in sums if r.j is not None]
    n = (body[0].cnt if body else 0) + c_null
    if n == 0:
        raise ValueError("embedding table is empty")
    if n > max_rows:
        raise ValueError(
            f"{n} rows exceeds max_rows={max_rows} (BIGINT magnitude budget)"
        )
    if not body:
        raise ValueError("empty or NULL embedding vectors: no coordinates to project")
    counts = {r.cnt for r in body}
    if len(counts) > 1 or c_null:  # a short row would NULL out of zip_with
        raise ValueError("ragged embedding arrays: row sizes differ")
    dims = max(r.j for r in body) + 1
    mean = [0] * dims
    for r in body:
        mean[r.j] = _tdiv(r.s, n)
    m_lit = "array(" + ",".join(f"{m}L" for m in mean) + ")"
    centered = maybe_persist(
        emb.select(
            F.col(id_col),
            F.expr(
                f"transform({vec_col}, (x, k) -> CAST(ROUND(x * {scale}) AS"
                f" BIGINT) - element_at({m_lit}, k + 1))"
            ).alias("c"),
        ),
    )

    v = [out_scale] * dims
    for _ in range(iterations):
        v_lit = "array(" + ",".join(f"{x}L" for x in v) + ")"
        dot = (
            f"aggregate(zip_with(c, {v_lit}, (ci, vi) -> ci * vi),"
            " 0L, (acc, t) -> acc + t)"
        )
        # the dot product is projected BEFORE the explode: inlining it
        # inside a transform lambda re-ran the dims-long fold once per
        # ELEMENT (O(dims^2) per row per round, r6 — measured ~2x on the
        # 3-round bench shape); the Generate carries the scalar along
        w_rows = (
            centered.select(
                F.expr(dot).alias("_d"), F.posexplode("c").alias("j", "ci")
            )
            .select("j", (F.col("ci") * F.col("_d")).alias("t"))
            .groupBy("j")
            .agg(F.sum("t").alias("w"))
            .collect()
        )
        w = [0] * dims
        for r in w_rows:
            w[r.j] = r.w
        wmax = max(abs(x) for x in w)
        if wmax == 0:
            raise ValueError("degenerate table: all centered vectors are zero")
        v = [_tdiv_signed(x, wmax, out_scale) for x in w]

    v_lit = "array(" + ",".join(f"{x}L" for x in v) + ")"
    scores = centered.select(
        F.col(id_col),
        F.expr(
            f"aggregate(zip_with(c, {v_lit}, (ci, vi) -> ci * vi),"
            " 0L, (acc, t) -> acc + t)"
        ).alias("pc1_score"),
    )
    return scores, v


def _tdiv_signed(w: int, wmax: int, out_scale: int) -> int:
    return -(((-w) * out_scale) // wmax) if w < 0 else (w * out_scale) // wmax
