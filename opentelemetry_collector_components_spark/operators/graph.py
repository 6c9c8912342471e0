"""Graph ranking over edge tables distilled from event streams.

Web-corpus curation ranks domains by link-graph centrality (Common
Crawl publishes harmonic/PageRank domain ranks; curation pipelines use
them as quality priors).  The distributed shape has two very different
halves:

1. **Edge extraction** — the heavy part.  At 100 TB the raw events are
   scanned once, sessions ordered per entity (one shuffle on the entity
   key), and consecutive transitions reduced to a weighted edge list
   (one aggregation).  The edge list is orders of magnitude smaller
   than the input (bounded by |V|^2 for categorical nodes, by the
   distinct link set for domains).
2. **Power iteration** — joins the edge list against a rank vector per
   round.  The rank vector is |V| rows; for categorical graphs (event
   types, a few domains) it broadcasts, so each iteration is one scan
   of the edges plus a groupBy(dst) reduce of contribution rows — the
   canonical distributed PageRank step.  Edges are persisted once and
   reused across iterations (no lineage re-execution).

All rank arithmetic is INTEGER (micro-units, truncating division), so
every iteration is exactly associative and engine-independent: the
DuckDB oracle replays the full trajectory with `//` and lands on
identical ranks — no float-boundary risk at all (stronger than the
FLOOR(1e6*f(x)) idiom used where transcendentals are unavoidable).

Update rule per node v, total mass 1e6 micro, damping d/100:
    contrib(u->v) = (rank_u * w_uv) div out_w_u
    rank'_v       = (1e6*(100-d) div 100) div |V|  +  (d * sum contrib) div 100
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MICRO = 1_000_000


def transition_edges(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    node_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Weighted first-order transition graph: for each entity's
    time-ordered activity, count consecutive (prev node -> node) pairs.
    One shuffle (window on entity) + one aggregation; the output is the
    tiny side that power iteration consumes."""
    w = Window.partitionBy(entity_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    return (
        df.select(entity_col, ts_col, tiebreak_col, F.col(node_col).alias("dst"))
        .withColumn("src", F.lag("dst").over(w))
        .where(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def pagerank_quantized(
    edges: DataFrame,
    damping_pct: int = 85,
    iterations: int = 3,
) -> DataFrame:
    """Exact-integer PageRank over (src, dst, weight): returns
    (node, rank_micro) after ``iterations`` power-iteration rounds.

    Ranks start uniform (1e6 div |V|).  Nodes with no in-edges keep the
    teleport term only; dangling mass (nodes with no out-edges) is
    dropped, the standard simplification — documented rather than
    redistributed, and replayed identically by the oracle."""
    from ..caching import local_checkpoint_tracked, maybe_persist, track_handle

    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0, 100), got {damping_pct}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    nodes = maybe_persist(
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct(),
    )
    n_v = nodes.count()
    if n_v == 0:
        raise ValueError("edge table is empty")
    # a zero/negative weight can zero a node's out_w: `x div 0` is NULL in
    # non-ANSI Spark and SUM would silently drop the contribution row —
    # rank mass evaporating with no error.  transition_edges never emits
    # these, but arbitrary edge tables are accepted here, so guard.
    w_min = edges.agg(F.min("weight")).collect()[0][0]
    if w_min is None or w_min <= 0:
        raise ValueError(f"edge weights must be positive, got min={w_min}")
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    weighted = maybe_persist(edges.join(out_w, "src"))

    teleport = (MICRO * (100 - damping_pct) // 100) // n_v
    ranks = nodes.withColumn("rank_micro", F.lit(MICRO // n_v))
    release = None
    for _ in range(iterations):
        contrib = (
            weighted.join(
                F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
            )
            .select(
                "dst",
                F.expr("(rank_micro * weight) div out_w").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("c_sum"))
        )
        # cut the iteration's lineage (the checkpoint IS the new base);
        # previous round's blocks are unreachable once this materializes
        ranks, next_release = local_checkpoint_tracked(
            nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(f"({damping_pct} * coalesce(c_sum, 0L)) div 100")
                ).alias("rank_micro"),
            )
        )
        if release is not None:
            release()
        release = next_release
    # the FINAL round's blocks back the returned frame — kept alive; a
    # scoped_intermediates block around the caller reclaims them
    track_handle(_FinalRelease(release))
    return ranks


class _FinalRelease:
    """Adapter so the last round's localCheckpoint release callback can
    ride the scoped_intermediates tracker (which calls unpersist())."""

    def __init__(self, release):
        self._release = release

    def unpersist(self) -> None:
        if self._release is not None:
            self._release()


def hits_quantized(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Exact-integer HITS (Kleinberg 1999) over (src, dst, weight):
    returns (node, hub_micro, auth_micro) after ``iterations`` rounds of
    the mutual-reinforcement updates

        auth'(v) = Σ_{u→v} hub(u)·w,   hub'(u) = Σ_{u→v} auth'(v)·w,

    each score vector re-normalized to max = 1e6 by integer truncating
    division — the same quantization discipline as ``pagerank_quantized``:
    every round is exactly associative, so the oracle replays the FULL
    trajectory with `//` and lands on identical scores.  PageRank ranks
    global endorsement; HITS separates HUBS (link farms / directories
    pointing everywhere) from AUTHORITIES (pages everyone points at) —
    the pair of signals spam heuristics actually want.

    Same scale split as PageRank: the edge list is the distilled small
    half, score vectors are |V| rows and broadcast; each round is two
    edge scans with groupBy reduces.  Positive weights required (same
    mass-evaporation guard).
    """
    from ..caching import local_checkpoint_tracked, maybe_persist, track_handle

    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    w_min = edges.agg(F.min("weight")).collect()[0][0]
    if w_min is None or w_min <= 0:
        raise ValueError(f"edge weights must be positive, got min={w_min}")
    nodes = maybe_persist(
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct(),
    )
    e = maybe_persist(edges.select("src", "dst", "weight"))
    scores = nodes.select(
        "node", F.lit(MICRO).alias("hub_micro"), F.lit(MICRO).alias("auth_micro")
    )
    release = None
    for _ in range(iterations):
        auth_raw = (
            e.join(
                F.broadcast(
                    scores.select(F.col("node").alias("src"), "hub_micro")
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum(F.col("hub_micro") * F.col("weight")).alias("a_raw"))
        )
        a_max = F.broadcast(auth_raw.agg(F.max("a_raw").alias("_amax")))
        auth = auth_raw.crossJoin(a_max).select(
            F.col("dst").alias("node"),
            F.expr(f"(a_raw * {MICRO}) div _amax").alias("auth_micro"),
        )
        hub_raw = (
            e.join(
                F.broadcast(
                    auth.select(F.col("node").alias("dst"), "auth_micro")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.sum(F.col("auth_micro") * F.col("weight")).alias("h_raw"))
        )
        h_max = F.broadcast(hub_raw.agg(F.max("h_raw").alias("_hmax")))
        hub = hub_raw.crossJoin(h_max).select(
            F.col("src").alias("node"),
            F.expr(f"(h_raw * {MICRO}) div _hmax").alias("hub_micro"),
        )
        scores, next_release = local_checkpoint_tracked(
            nodes.join(hub, "node", "left")
            .join(auth, "node", "left")
            .select(
                "node",
                F.coalesce("hub_micro", F.lit(0)).cast("long").alias("hub_micro"),
                F.coalesce("auth_micro", F.lit(0)).cast("long").alias(
                    "auth_micro"
                ),
            )
        )
        if release is not None:
            release()
        release = next_release
    track_handle(_FinalRelease(release))
    return scores


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    damping_pct: int = 85,
    iterations: int = 3,
) -> DataFrame:
    """Exact-integer personalized PageRank: teleport mass returns to the
    SEED set instead of spreading uniformly, so ranks measure proximity
    to the seeds (TrustRank / related-entities scoring: "what is close
    to these trusted hosts / this event type"), not global centrality.

    Same integer micro-unit trajectory discipline as
    :func:`pagerank_quantized` (truncating division, exactly
    associative, oracle replays the full trajectory); differences:
    ranks start concentrated on the seeds (``1e6 div |S|``), the
    teleport term ``(1e6*(100-d) div 100) div |S|`` lands only on seed
    rows, and non-seed nodes hold rank only through in-links.  The seed
    list is small by definition (it parameterizes the question), so it
    inlines as a literal predicate — no extra join.

    Scale shape: identical to global PageRank — per round one broadcast
    join of the rank vector against the persisted edge list plus one
    groupBy(dst) reduce; per-round localCheckpoint cuts lineage.
    Dangling-node mass is dropped (documented, replayed identically).
    """
    from ..caching import local_checkpoint_tracked, maybe_persist, track_handle

    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0, 100), got {damping_pct}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not seeds:
        raise ValueError("seeds must be non-empty")
    seeds = list(dict.fromkeys(seeds))
    nodes = maybe_persist(
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct(),
    )
    w_min = edges.agg(F.min("weight")).collect()[0][0]
    if w_min is None or w_min <= 0:
        raise ValueError(f"edge weights must be positive, got min={w_min}")
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    weighted = maybe_persist(edges.join(out_w, "src"))

    n_s = len(seeds)
    is_seed = F.col("node").isin(seeds)
    # an absent seed (typo, host with no edges) would silently evaporate
    # its 1/|S| share of initial rank AND teleport mass every round —
    # all ranks quietly shrink with no error.  Fail loudly instead.
    present = nodes.where(is_seed).count()
    if present != n_s:
        raise ValueError(
            f"{n_s - present} of {n_s} seeds are not nodes of the graph"
        )
    teleport = F.when(
        is_seed, F.lit((MICRO * (100 - damping_pct) // 100) // n_s)
    ).otherwise(F.lit(0))
    ranks = nodes.select(
        "node",
        F.when(is_seed, F.lit(MICRO // n_s)).otherwise(F.lit(0)).alias(
            "rank_micro"
        ),
    )
    release = None
    for _ in range(iterations):
        contrib = (
            weighted.join(
                F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
            )
            .select(
                "dst",
                F.expr("(rank_micro * weight) div out_w").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("c_sum"))
        )
        ranks, next_release = local_checkpoint_tracked(
            nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    teleport
                    + F.expr(f"({damping_pct} * coalesce(c_sum, 0L)) div 100")
                ).alias("rank_micro"),
            )
        )
        if release is not None:
            release()
        release = next_release
    track_handle(_FinalRelease(release))
    return ranks


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 16,
) -> DataFrame:
    """k-core membership of the undirected graph — the degeneracy peel
    that separates densely-embedded nodes from tendrils: iteratively
    remove every node with fewer than k distinct neighbors among the
    SURVIVORS until a fixpoint.  The standard webgraph spam/quality
    signal (link farms melt away under peeling; genuinely embedded hubs
    survive) beside PageRank (importance), LPA (communities), and
    triangles (local density).

    Deterministic bounded-round form (the repo's iterative contract,
    same as ``communities.label_propagation``): synchronous rounds —
    each round recomputes degrees over the current survivor set and
    drops ALL sub-k nodes at once — for at most ``max_rounds``; raises
    if the fixpoint is not reached (bump ``max_rounds``; each round
    strictly shrinks the node set, so |V| rounds always suffice and
    real graphs converge in a handful).  Self-loops are ignored
    (degree counts DISTINCT other-endpoints); the edge list is
    symmetrized internally.

    Output: (node, degree_in_core BIGINT) — survivors only, with their
    final within-core degree.

    Scale shape: per round one distinct-edge aggregation + one semi
    join against the shrinking survivor set, each persisted and the
    previous round unpersisted (bounded cache footprint); rounds are
    sequential jobs, as any fixpoint iteration must be.
    """
    from ..caching import track_handle

    if k < 1:
        raise ValueError("k must be >= 1")
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .union(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    live = und
    prev_deg = None
    for _ in range(max_rounds):
        # one aggregation pass yields BOTH the survivor count (every row
        # of deg is one live node) and the threshold filter — no extra
        # distinct job per round
        deg = live.groupBy("a").agg(
            F.count(F.lit(1)).cast("long").alias("degree_in_core")
        ).persist()
        n_before = deg.count()
        keep = deg.where(F.col("degree_in_core") >= k)
        n_keep = keep.count()
        if n_keep == n_before:
            # fixpoint: the returned frame is backed by the persisted deg;
            # everything earlier is released, deg rides the caller's
            # scoped_intermediates tracker (same contract as pagerank)
            und.unpersist()
            if prev_deg is not None:
                prev_deg.unpersist()
            if live is not und:
                live.unpersist()
            track_handle(deg)
            return keep.select(F.col("a").alias("node"), "degree_in_core")
        nxt = (
            live.join(keep.select("a"), "a")
            .join(
                keep.select(F.col("a").alias("b")),
                "b",
            )
            .select("a", "b")
            .persist()
        )
        nxt.count()  # materialize before releasing the parent
        if prev_deg is not None:
            prev_deg.unpersist()
        prev_deg = deg
        if live is not und:
            live.unpersist()
        live = nxt
    und.unpersist()
    if prev_deg is not None:
        prev_deg.unpersist()
    if live is not und:
        live.unpersist()
    raise ValueError(
        f"k_core: fixpoint not reached in {max_rounds} rounds — raise max_rounds"
    )


def k_core_oracle_sql(
    edges_sql: str,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 16,
) -> str:
    """Unrolled-CTE DuckDB replay of ``k_core`` (recursive CTEs cannot
    re-aggregate the shrinking survivor set per step, so the rounds
    unroll as chained CTEs — extra rounds past the fixpoint are no-ops,
    matching the operator's early exit)."""
    parts = [
        f"""und AS MATERIALIZED (
        SELECT a, b FROM (
            SELECT {src_col} AS a, {dst_col} AS b FROM ({edges_sql}) e0
            UNION ALL
            SELECT {dst_col}, {src_col} FROM ({edges_sql}) e1
        ) u WHERE a != b GROUP BY a, b
    )"""
    ]
    prev = "und"
    for r in range(rounds):
        parts.append(
            f"""keep{r} AS MATERIALIZED (
        SELECT a FROM {prev} GROUP BY a HAVING COUNT(*) >= {k}
    ), live{r} AS MATERIALIZED (
        SELECT l.a, l.b FROM {prev} l
        JOIN keep{r} ka ON l.a = ka.a
        JOIN keep{r} kb ON l.b = kb.a
    )"""
        )
        prev = f"live{r}"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree_in_core
    FROM {prev} GROUP BY a HAVING COUNT(*) >= {k}
    """
    )


def _ball_ctes(
    edges_sql: str, radius: int, src_col: str, dst_col: str
) -> tuple[list[str], str]:
    """Shared oracle plumbing: MATERIALIZED CTE stages computing the
    minimal-distance pair set {(center, other, dist) : 1 <= dist <=
    radius} over the symmetrized edge list — the exact ball membership
    both ``harmonic_oracle_sql`` and ``hyperball_oracle_sql`` replay.
    Plain chained CTEs re-inline exponentially in DuckDB (each stage is
    referenced twice), hence MATERIALIZED throughout."""
    parts = [
        f"""und AS MATERIALIZED (
        SELECT a, b FROM (
            SELECT {src_col} AS a, {dst_col} AS b FROM ({edges_sql}) e0
            UNION ALL
            SELECT {dst_col}, {src_col} FROM ({edges_sql}) e1
        ) u WHERE a != b GROUP BY a, b
    )""",
        """s1 AS MATERIALIZED (
        SELECT a AS center, b AS other, 1 AS dist FROM und
    )""",
    ]
    prev = "s1"
    for r in range(2, radius + 1):
        parts.append(
            f"""n{r} AS MATERIALIZED (
        SELECT f.center, u.b AS other
        FROM {prev} f JOIN und u ON f.other = u.a
        WHERE u.b != f.center
          AND NOT EXISTS (
            SELECT 1 FROM {prev} s
            WHERE s.center = f.center AND s.other = u.b
          )
        GROUP BY f.center, u.b
    ), s{r} AS MATERIALIZED (
        SELECT center, other, dist FROM {prev}
        UNION ALL
        SELECT center, other, {r} FROM n{r}
    )"""
        )
        prev = f"s{r}"
    return parts, prev


def _layered_ball_pairs(edges, radius, src_col, dst_col):
    """Shared layered-BFS materialization for harmonic_centrality and
    neighborhood_function (the oracles share _ball_ctes the same way):
    builds the minimal-distance pair set {(center, other, dist <= r)}
    round by round — each round persists only the NEW layer, releases
    the previous, and EARLY-EXITS when a layer comes back empty (the
    curve has saturated; further joins would be no-ops).

    Returns (seen, counts): ``seen`` is the final persisted pair frame
    (CALLER owns the handle — keep it if the result references it,
    unpersist it if the readout was collected) and ``counts`` is the
    cumulative pair count per radius, padded flat through ``radius``
    after saturation."""
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .union(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    seen = und.select(
        F.col("a").alias("center"), F.col("b").alias("other"),
        F.lit(1).alias("dist"),
    ).persist()
    counts = [(1, seen.count())]
    frontier = seen
    for d in range(2, radius + 1):
        new = (
            frontier.select("center", F.col("other").alias("a"))
            .join(und, "a")
            .select("center", F.col("b").alias("other"))
            .where(F.col("other") != F.col("center"))
            .distinct()
            .join(seen.select("center", "other"), ["center", "other"], "left_anti")
            .select("center", "other", F.lit(d).alias("dist"))
            .persist()
        )
        n_new = new.count()
        if n_new == 0:
            new.unpersist()
            break
        counts.append((d, counts[-1][1] + n_new))
        nxt = seen.unionByName(new).persist()
        nxt.count()
        if frontier is not seen:
            frontier.unpersist()
        seen.unpersist()
        seen = nxt
        frontier = new
    und.unpersist()
    if frontier is not seen:
        frontier.unpersist()
    while len(counts) < radius:
        counts.append((len(counts) + 1, counts[-1][1]))
    return seen, counts


def harmonic_centrality(
    edges: DataFrame,
    radius: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Bounded-radius harmonic centrality — Common Crawl's actual
    domain-ranking metric (harmonic centrality over the host graph,
    Boldi & Vigna 2014): H(v) = sum over reachable u != v of 1/d(u, v),
    truncated at ``radius`` hops.  Exact integer micro-units
    (1e6 div dist summed as BIGINT), so the oracle replays the BFS
    identically.  Edges are symmetrized; self-loops dropped.

    Output: (node, harmonic_micro BIGINT, reachable BIGINT) — every
    node with at least one edge.

    Scale shape: the shared ``_layered_ball_pairs`` BFS — round r
    materializes only the NEW pairs at distance exactly r, previous
    rounds unpersisted, empty-layer early exit — so total work is
    sum_v |ball(v, radius)| pairs, linear in output.  That sum is the
    quadratic hazard of exact neighborhood functions: bounded radius
    keeps it honest on sparse host graphs, and ``hyperball_registers``
    is the constant-memory-per-node approximation for graphs where
    even radius-3 balls blow up (the HyperBall trade, same paper).
    """
    from ..caching import track_handle

    if radius < 1:
        raise ValueError("radius must be >= 1")
    seen, _counts = _layered_ball_pairs(edges, radius, src_col, dst_col)
    # the returned frame aggregates straight off the persisted pair set:
    # the handle stays alive with the result (scoped_intermediates
    # reclaims it around gate calls)
    track_handle(seen)
    return seen.groupBy(F.col("center").alias("node")).agg(
        F.sum(F.expr(f"{MICRO} div dist")).cast("long").alias("harmonic_micro"),
        F.count(F.lit(1)).cast("long").alias("reachable"),
    )


def harmonic_oracle_sql(
    edges_sql: str,
    radius: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> str:
    """DuckDB replay of ``harmonic_centrality``: same BFS rounds as
    MATERIALIZED CTE stages, same integer micro-unit fold."""
    parts, final = _ball_ctes(edges_sql, radius, src_col, dst_col)
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT center AS node,
           CAST(SUM({MICRO} // dist) AS BIGINT) AS harmonic_micro,
           CAST(COUNT(*) AS BIGINT) AS reachable
    FROM {final} GROUP BY center
    """
    )


# HyperBall register geometry: m = 2^p buckets from one 60-bit md5/xxhash
# of the node id, rho = leading-1 position in an independent 24-bit hash
# window (1..24; 25 for the all-zero window).  The ladder below is the
# ONE definition both engines share — generated comparisons, no log2.
_HB_RHO_BITS = 24


def _rho_thresholds() -> list[tuple[int, int]]:
    return [(2 ** (_HB_RHO_BITS - r), r) for r in range(1, _HB_RHO_BITS + 1)]


def _rho_column(v: Column) -> Column:
    expr = F.lit(_HB_RHO_BITS + 1)
    for threshold, r in reversed(_rho_thresholds()):
        expr = F.when(v >= threshold, F.lit(r)).otherwise(expr)
    return expr


def _rho_case_sql(v_expr: str) -> str:
    whens = " ".join(
        f"WHEN {v_expr} >= {t} THEN {r}" for t, r in _rho_thresholds()
    )
    return f"CASE {whens} ELSE {_HB_RHO_BITS + 1} END"


def hyperball_registers(
    edges: DataFrame,
    radius: int = 3,
    p: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    engine: str = "md5",
) -> DataFrame:
    """HyperBall (Boldi & Vigna, WWW 2013): per-node HyperLogLog
    registers of the radius-r ball, for r = 1..radius — the
    constant-memory-per-node neighborhood function that replaces the
    quadratic pair materialization of exact ``harmonic_centrality`` at
    web scale (this is how Common Crawl's harmonic ranks are actually
    computed).

    Relational register form: R_0 = each node's own (bucket, rho) from
    its id hash; round r maxes every node's registers with its
    neighbors' previous-round registers — one |E|-proportional join +
    one groupBy max per round, register rows bounded by |V| * m.

    Output: (node, radius INT, s_scaled BIGINT, zero_buckets BIGINT)
    per node per r, where s_scaled = sum_j 2^(40 - M_j) with absent
    buckets counted at M_j = 0 — the EXACT integer register summary the
    float HLL estimate derives from (``hll_ball_estimate``); keeping
    floats out of the frame keeps the oracle engine-exact.

    engine='md5' replays in any SQL engine (the repo's 60-bit md5
    contract); 'xxhash' is the JVM scale path, same algorithm.
    """
    from ..caching import track_handle
    from ..functions.textstats import md5_hash60

    if radius < 1:
        raise ValueError("radius must be >= 1")
    if not 4 <= p <= 12:
        # the Flajolet alpha constants are undefined below m = 16
        raise ValueError("p must be in [4, 12]")
    if engine not in ("md5", "xxhash"):
        raise ValueError(f"unknown hash engine: {engine!r}")
    m = 2**p
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .union(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    nodes = und.select(F.col("a").alias("node")).distinct()
    if engine == "md5":
        hb = md5_hash60(F.concat(F.col("node"), F.lit(":hb")))
        hr = md5_hash60(F.concat(F.col("node"), F.lit(":hr")))
    else:
        hb = F.xxhash64(F.col("node"), F.lit(1))
        hr = F.xxhash64(F.col("node"), F.lit(2))
    regs0 = nodes.select(
        "node",
        F.pmod(hb, F.lit(m)).cast("int").alias("bucket"),
        _rho_column(F.pmod(hr, F.lit(2**_HB_RHO_BITS))).cast("int").alias("rho"),
    ).persist()
    regs0.count()
    track_handle(und)
    track_handle(regs0)

    def readout(regs: DataFrame, r: int) -> DataFrame:
        return regs.groupBy("node").agg(
            (
                F.sum(F.expr("shiftleft(1L, 40 - rho)"))
                + (F.lit(m) - F.count(F.lit(1))) * F.lit(2**40)
            )
            .cast("long")
            .alias("s_scaled"),
            (F.lit(m) - F.count(F.lit(1))).cast("long").alias("zero_buckets"),
        ).select("node", F.lit(r).cast("int").alias("radius"), "s_scaled", "zero_buckets")

    regs = regs0
    outs = []
    for r in range(1, radius + 1):
        nxt = (
            regs.unionByName(
                und.join(regs.withColumnRenamed("node", "a"), "a").select(
                    F.col("b").alias("node"), "bucket", "rho"
                )
            )
            .groupBy("node", "bucket")
            .agg(F.max("rho").alias("rho"))
            .persist()
        )
        nxt.count()
        track_handle(nxt)
        outs.append(readout(nxt, r))
        regs = nxt
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def hyperball_oracle_sql(
    edges_sql: str,
    radius: int = 3,
    p: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> str:
    """DuckDB replay of ``hyperball_registers(engine='md5')``: exact
    ball membership from the shared BFS CTEs + per-node hash registers,
    max-merged per (center, bucket) — register states are a pure
    function of ball membership, so the iterative max-merge and the
    direct ball max agree exactly."""
    m = 2**p
    parts, final = _ball_ctes(edges_sql, radius, src_col, dst_col)
    parts.append(
        f"""nr AS MATERIALIZED (
        SELECT node,
               CAST(('0x' || substr(md5(node || ':hb'), 1, 15))::BIGINT % {m}
                   AS INTEGER) AS bucket,
               {_rho_case_sql(f"(('0x' || substr(md5(node || ':hr'), 1, 15))::BIGINT % {2 ** _HB_RHO_BITS})")} AS rho
        FROM (SELECT DISTINCT a AS node FROM und) n
    )"""
    )
    reads = []
    for r in range(1, radius + 1):
        parts.append(
            f"""mem{r} AS MATERIALIZED (
        SELECT center, other FROM s{r}
        UNION ALL
        SELECT node, node FROM nr
    ), reg{r} AS MATERIALIZED (
        SELECT mm.center, n.bucket, MAX(n.rho) AS rho
        FROM mem{r} mm JOIN nr n ON n.node = mm.other
        GROUP BY mm.center, n.bucket
    )"""
        )
        reads.append(
            f"""SELECT center AS node, CAST({r} AS INTEGER) AS radius,
           CAST(SUM(1::BIGINT << (40 - rho))
                + ({m} - COUNT(*)) * (1::BIGINT << 40) AS BIGINT) AS s_scaled,
           CAST({m} - COUNT(*) AS BIGINT) AS zero_buckets
    FROM reg{r} GROUP BY center"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + "\n    UNION ALL\n    ".join(reads)
    )


_HLL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def hll_ball_estimate(s_scaled: int, zero_buckets: int, m: int) -> float:
    """Driver-side HLL estimate from the exact integer register summary:
    E = alpha_m * m^2 / sum_j 2^(-M_j), with linear counting for the
    small range (Flajolet et al. 2007).  s_scaled carries the sum
    pre-multiplied by 2^40 so it is exact BIGINT in both engines."""
    import math

    alpha = _HLL_ALPHA.get(m, 0.7213 / (1 + 1.079 / m))
    est = alpha * m * m * float(2**40) / float(s_scaled)
    if est <= 2.5 * m and zero_buckets > 0:
        return m * math.log(m / zero_buckets)
    return est


def connected_components_star(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 16,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the canonical O(log n)-round distributed CC, beside
    ``dedup.near_dedup_components``'s min-label propagation which needs
    O(diameter) rounds: on a path of length 1000 label propagation runs
    1000 rounds, star contraction ~10.  Ids must be orderable (numeric
    or string); the component label is the component's minimum id.

    Per round (one LS + one SS):
    - large-star: every node connects its STRICTLY LARGER neighbors to
      the minimum of its closed neighborhood — one groupBy min + one
      join on the symmetrized edge set;
    - small-star: edges oriented (hi, lo); every hi connects its
      smaller neighbors and itself to their minimum — same shape.
    Both steps preserve connectivity; the fixpoint is a star forest
    rooted at component minima.  Each round's canonical edge set is
    localCheckpoint-ed (the convergence check references it twice and
    the plan would double per round otherwise).  Raises if not
    converged in ``max_rounds`` rounds.

    Output: (node, component) for every node incident to an edge.

    Scale shape: 4 shuffles per round on an edge set that never grows
    beyond the input edge count (both stars emit at most one edge per
    input edge), with logarithmically many rounds — the property that
    makes this THE web-graph CC algorithm.
    """
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    cur = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("lo"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        sym = cur.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            cur.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
        ls = (
            sym.join(mins, "u")
            .select(
                "v",
                F.least(F.col("_mn"), F.col("u")).alias("m"),
                "u",
            )
            .where(F.col("v") > F.col("u"))
            .select(
                F.least(F.col("v"), F.col("m")).alias("lo"),
                F.greatest(F.col("v"), F.col("m")).alias("hi"),
            )
            .where(F.col("lo") != F.col("hi"))
            .distinct()
        )
        mins2 = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        ss = (
            ls.join(mins2, "hi")
            .where(F.col("lo") != F.col("m"))
            .select(F.col("m").alias("lo"), F.col("lo").alias("hi"))
            .unionByName(
                mins2.select(F.col("m").alias("lo"), F.col("hi").alias("hi"))
            )
            .distinct()
            .localCheckpoint()
        )
        same = (
            ss.count() == cur.count()
            and ss.join(cur, ["lo", "hi"], "left_anti").count() == 0
        )
        cur = ss
        if same:
            break
    else:
        raise ValueError(
            f"connected_components_star: not converged in {max_rounds} rounds"
        )
    roots = cur.select(F.col("lo").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return cur.select(
        F.col("hi").alias("node"), F.col("lo").alias("component")
    ).unionByName(roots)


def components_star_oracle_sql(
    edges_sql: str, src_col: str = "src", dst_col: str = "dst"
) -> str:
    """DuckDB replay via recursive min-reachability (component label ==
    minimum reachable id — algorithm-independent ground truth)."""
    return f"""
    WITH RECURSIVE und AS (
        SELECT {src_col} AS src, {dst_col} AS dst FROM ({edges_sql}) e0
        WHERE {src_col} != {dst_col}
        UNION
        SELECT {dst_col}, {src_col} FROM ({edges_sql}) e1
        WHERE {src_col} != {dst_col}
    ),
    reach AS (
        SELECT DISTINCT src AS id, src AS label FROM und
        UNION
        SELECT u.src, r.label FROM und u JOIN reach r ON r.id = u.dst
    )
    SELECT id AS node, MIN(label) AS component FROM reach GROUP BY id
    """


def neighborhood_function(
    edges: DataFrame,
    radius: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact neighborhood function N(r) (Palmer/Gibbons/Faloutsos' ANF
    readout): for each r <= radius, how many (ordered) node pairs are
    within distance r, plus the node count — the curve whose saturation
    point is the EFFECTIVE DIAMETER (smallest r with N(r) >= 0.9 *
    N(infinity)), the single most-quoted web-graph shape statistic.

    Same shared layered BFS as ``harmonic_centrality``
    (``_layered_ball_pairs``: new-pairs-per-round, previous round
    unpersisted, empty-layer early exit with flat padding); the pair
    set is RELEASED before returning — the readout is the tiny
    per-radius count table, nothing references the pairs.  Output one
    row per radius: (radius, pairs BIGINT, nodes BIGINT); ``pairs``
    excludes self-pairs.  ``effective_diameter_90`` derives the
    readout; at web scale the ``hyperball_registers`` estimates
    substitute for the exact layer counts — same curve, constant
    memory per node."""
    if radius < 1:
        raise ValueError("radius must be >= 1")
    nonloop = edges.where(F.col(src_col) != F.col(dst_col))
    und_nodes = (
        nonloop.select(F.col(src_col).alias("a"))
        .union(nonloop.select(F.col(dst_col).alias("a")))
        .distinct()
        .count()
    )
    seen, counts = _layered_ball_pairs(edges, radius, src_col, dst_col)
    seen.unpersist()  # counts are already on the driver; the pairs are dead
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(r, int(c), int(und_nodes)) for r, c in counts],
        "radius int, pairs long, nodes long",
    )


def neighborhood_oracle_sql(
    edges_sql: str,
    radius: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> str:
    """DuckDB replay: the shared ball CTEs counted per radius."""
    parts, final = _ball_ctes(edges_sql, radius, src_col, dst_col)
    reads = [
        f"""SELECT CAST({r} AS INTEGER) AS radius,
           CAST(COUNT(*) AS BIGINT) AS pairs,
           (SELECT CAST(COUNT(DISTINCT a) AS BIGINT) FROM und) AS nodes
    FROM s{r} WHERE dist <= {r}"""
        for r in range(1, radius + 1)
    ]
    return (
        "WITH " + ",\n    ".join(parts) + "\n    "
        + "\n    UNION ALL\n    ".join(reads)
    )


def effective_diameter_90(nf: DataFrame) -> int | None:
    """Smallest radius whose pair count reaches 90% of the deepest
    measured layer's (the bounded-radius effective-diameter readout;
    exact only when the curve has saturated within the measured
    radius).  Driver-side over the tiny per-radius table."""
    rows = sorted((r["radius"], r["pairs"]) for r in nf.collect())
    if not rows or rows[-1][1] == 0:
        # nothing measured OR no reachable pairs at all: there is no
        # saturation point to report (0 >= 0.9*0 would claim radius 1)
        return None
    target = rows[-1][1] * 9  # compare 10*pairs >= 9*max exactly
    for r, c in rows:
        if c * 10 >= target:
            return r
    return None


def k_truss(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 16,
) -> DataFrame:
    """k-truss of the undirected graph — the EDGE-level density peel one
    rung above ``k_core``: iteratively remove every edge embedded in
    fewer than k-2 triangles among the SURVIVING edges until fixpoint
    (Cohen 2008, "Trusses: cohesive subgraphs for social network
    analysis").  Where k-core keeps nodes with enough neighbors, k-truss
    keeps edges with enough mutual closure, so link-farm stars that
    survive coring (high degree, no closure) melt immediately — the
    sharper webgraph spam/community-nucleus signal.

    Deterministic bounded-round form (same contract as ``k_core``):
    synchronous rounds, each recomputing per-edge triangle support over
    the current canonical edge set and dropping ALL sub-(k-2) edges at
    once; raises if ``max_rounds`` is hit before the fixpoint.
    Self-loops are ignored; the edge list is canonicalized (a < b) and
    deduplicated internally, so direction and multiplicity don't count.

    Output: (a, b, support BIGINT) — surviving canonical edges with
    their final within-truss triangle support.

    Scale shape: per round ONE triangle enumeration — two shuffle joins
    on the canonical (a<b<c) orientation, the standard distributed
    pattern that counts each triangle exactly once — plus one groupBy
    over the 3 projected edge slots and a left join back to retain
    zero-support edges; the previous round's persisted set is released
    each step.  Orientation bounds the join fan-out by the graph
    degeneracy, the same reason the ``webgraph_triangles`` gate uses it.
    """
    from ..caching import track_handle

    if k < 2:
        raise ValueError("k must be >= 2")
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    s, d = F.col(src_col), F.col(dst_col)
    live = (
        edges.select(
            F.least(s, d).alias("a"), F.greatest(s, d).alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    need = k - 2
    for _ in range(max_rounds):
        e1 = live.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = live.select(F.col("a").alias("y"), F.col("b").alias("z"))
        e3 = live.select(F.col("a").alias("x"), F.col("b").alias("z"))
        tri = e1.join(e2, "y").join(e3, ["x", "z"])
        slot = (
            tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
            .unionAll(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
            .unionAll(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
        )
        counts = slot.groupBy("a", "b").agg(
            F.count(F.lit(1)).cast("long").alias("support")
        )
        sup = (
            live.join(counts, ["a", "b"], "left")
            .select(
                "a", "b", F.coalesce("support", F.lit(0).cast("long")).alias("support")
            )
            .persist()
        )
        n_before = sup.count()
        keep = sup.where(F.col("support") >= need)
        n_keep = keep.count()
        if n_keep == n_before:
            live.unpersist()
            track_handle(sup)
            return keep
        nxt = keep.select("a", "b").persist()
        nxt.count()  # materialize before releasing the parents
        live.unpersist()
        sup.unpersist()  # nxt is materialized; the support table is done
        live = nxt
    live.unpersist()
    raise ValueError(
        f"k_truss: fixpoint not reached in {max_rounds} rounds — raise max_rounds"
    )


def k_truss_oracle_sql(
    edges_sql: str,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 16,
) -> str:
    """Unrolled-CTE DuckDB replay of ``k_truss`` (same rationale as
    ``k_core_oracle_sql``: the shrinking edge set re-aggregates per
    round, which recursive CTEs cannot express — extra rounds past the
    fixpoint are no-ops)."""
    need = k - 2
    parts = [
        f"""canon AS MATERIALIZED (
        SELECT LEAST({src_col}, {dst_col}) AS a,
               GREATEST({src_col}, {dst_col}) AS b
        FROM ({edges_sql}) e
        WHERE {src_col} != {dst_col}
        GROUP BY 1, 2
    )"""
    ]
    prev = "canon"
    for r in range(rounds):
        parts.append(
            f"""tri{r} AS MATERIALIZED (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM {prev} e1
        JOIN {prev} e2 ON e2.a = e1.b
        JOIN {prev} e3 ON e3.a = e1.a AND e3.b = e2.b
    ), sup{r} AS MATERIALIZED (
        SELECT l.a, l.b, CAST(COALESCE(c.n, 0) AS BIGINT) AS support
        FROM {prev} l LEFT JOIN (
            SELECT a, b, COUNT(*) AS n FROM (
                SELECT x AS a, y AS b FROM tri{r}
                UNION ALL SELECT y, z FROM tri{r}
                UNION ALL SELECT x, z FROM tri{r}
            ) s GROUP BY a, b
        ) c ON l.a = c.a AND l.b = c.b
    ), live{r} AS MATERIALIZED (
        SELECT a, b FROM sup{r} WHERE support >= {need}
    )"""
        )
        prev = f"live{r}"
    last = rounds - 1
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT a, b, support FROM sup{last} WHERE support >= {need}
    """
    )


def random_walks(
    edges: DataFrame, length: int = 4, seed: str = "walk"
) -> DataFrame:
    """Deterministic uniform random walks over (src, dst) — the DeepWalk /
    node2vec corpus generator (Perozzi et al., KDD 2014): one walk per
    node with out-edges, ``length`` steps, each step choosing uniformly
    among the node's DISTINCT neighbors.  Output one row per visited
    position: ``(walk_id, step, node)``, step 0 = the start node; a walk
    reaching a dead end (no out-edges) simply stops short.

    "Random" is the house md5-60bit hash of ``(walk_id, step)`` modulo
    the out-degree — a pure function of the graph, bit-replayable by the
    SQL oracle and stable across reruns/partitioning (no RNG state, the
    same property as kmeanspp's sampling coin).  Weighted transitions and
    node2vec's p/q biases are the documented production extensions (the
    chooser becomes a cumulative-weight scan instead of a modulo).

    Scale shape: the neighbor table (one sorted-distinct aggregate)
    joins once per step on the current node — L equi-joins total, each
    |walks| rows against |nodes| neighbor lists; AQE broadcasts when the
    dims fit.  Walk count scales with nodes, never with edges².
    """
    from ..functions.textstats import md5_hash60

    if length < 1:
        raise ValueError("length must be >= 1")
    neigh = edges.groupBy(F.col("src").alias("node")).agg(
        F.sort_array(F.collect_set("dst")).alias("ns")
    )
    cur = neigh.select(F.col("node").alias("walk_id"), F.col("node"))
    frames = [cur.select("walk_id", F.lit(0).alias("step"), "node")]
    for s in range(1, length + 1):
        h = md5_hash60(
            F.concat(
                F.col("walk_id").cast("string"), F.lit(f":{seed}:{s}")
            )
        )
        cur = (
            cur.join(neigh, "node")
            .select(
                "walk_id",
                F.element_at(
                    F.col("ns"), (F.pmod(h, F.size("ns")) + 1).cast("int")
                ).alias("node"),
            )
        )
        frames.append(cur.select("walk_id", F.lit(s).alias("step"), "node"))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context) co-occurrence counts from a walk corpus — the
    word2vec training-pair extraction over ``random_walks`` output
    (walk_id, step, node): every ordered pair within ``window`` steps of
    each other in the same walk, aggregated to ``n_pairs``.

    One self-equi-join on walk_id with the bounded step-distance
    predicate (walks are length-L tiny, so each walk contributes at most
    L·2w pairs) + one partial-aggregated groupBy.  At corpus scale the
    join key is walk_id — as many keys as walks, no skew by
    construction."""
    if window < 1:
        raise ValueError("window must be >= 1")
    a = walks.select(
        F.col("walk_id"), F.col("step").alias("_s1"), F.col("node").alias("center")
    )
    b = walks.select(
        F.col("walk_id"), F.col("step").alias("_s2"), F.col("node").alias("context")
    )
    d = F.abs(F.col("_s1") - F.col("_s2"))
    return (
        a.join(b, "walk_id")
        .where((d >= 1) & (d <= window))
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def skipgram_negative_samples(
    pairs: DataFrame, freq: DataFrame, k: int = 2, seed: str = "neg"
) -> DataFrame:
    """Deterministic word2vec negative sampling: for every (center,
    context) pair, ``k`` negatives drawn from the unigram^(3/4)
    distribution (Mikolov et al. 2013) by inverse CDF — ``u`` = house md5
    hash of (center, context, draw) modulo the total weight, ranged into
    the vocabulary's cumulative-weight intervals.

    The 3/4-power weight quantizes as ``floor(sqrt(floor(sqrt(n³·10¹²))))``
    — nested IEEE sqrt, which IS correctly rounded and therefore
    bit-identical across engines (the repo's established determinism
    channel; pow/ln are not).  Accidental collisions (negative == context)
    are KEPT, documented: resampling would make draw j's value depend on
    draw j-1's, breaking the pure-function-of-inputs property, and the
    bias is O(1/|vocab|).

    Scale shape: the cumulative table is ONE ordered window over the
    vocabulary-scale ``freq`` table (bounded by construction — same
    justification as unimax's supply-table window), broadcast into a
    range join against pairs × k exploded draws; pairs never shuffle.
    """
    from ..functions.textstats import md5_hash60

    if k < 1:
        raise ValueError("k must be >= 1")
    w = F.expr(
        "CAST(FLOOR(SQRT(FLOOR(SQRT("
        "CAST(n AS DOUBLE) * n * n * 1000000000000)))) AS BIGINT)"
    )
    win = Window.orderBy("node")  # vocabulary-scale table, bounded
    cum = (
        freq.select("node", w.alias("w"))
        .withColumn("hi", F.sum("w").over(win))
        .withColumn("lo", F.col("hi") - F.col("w"))
    )
    total = cum.agg(F.max("hi")).collect()[0][0]
    if not total:
        raise ValueError("frequency table is empty or all-zero")
    draws = pairs.select(
        "center",
        "context",
        F.explode(F.sequence(F.lit(1), F.lit(k))).alias("draw"),
    )
    u = F.pmod(
        md5_hash60(
            F.concat(
                F.col("center").cast("string"),
                F.lit(":"),
                F.col("context").cast("string"),
                F.lit(f":{seed}:"),
                F.col("draw").cast("string"),
            )
        ),
        F.lit(total),
    )
    return (
        draws.withColumn("_u", u)
        .join(
            F.broadcast(cum.select("node", "lo", "hi")),
            on=[F.col("_u") >= F.col("lo"), F.col("_u") < F.col("hi")],
        )
        .select("center", "context", "draw", F.col("node").alias("neg_node"))
    )
