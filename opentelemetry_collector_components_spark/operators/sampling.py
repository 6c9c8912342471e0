"""Corpus sampling and sequence packing for training-data pipelines.

Two staples of LLM data preparation on top of the hygiene/dedup passes:

- ``sample_by_rates``: deterministic per-source subsampling (the
  temperature-reweighting step: upweight rare sources, downsample the
  Common-Crawl firehose).  The keep decision is a pure function of
  (id, seed) — md5-derived uniform in [0, 1) — so the sample is stable
  across reruns, resumable, and exactly restatable in any SQL engine;
  no RNG state, no shuffle, fully scan-fused.

- ``pack_sequences``: GPT-style concat-and-chunk packing.  Documents are
  concatenated in id order within a partition column and the token stream
  is cut every ``budget`` tokens; each document is labeled with the
  sequence (bin) its first token lands in and whether it straddles a cut.
  TWO-LEVEL cumulative sum: a realistic corpus is 80-90% one source
  (Common Crawl), so a window keyed on the source alone would put ~90% of
  the corpus on ONE task.  Instead ids are bucketed into order-respecting
  range shards (boundaries = one tiny percentile aggregate, collected once
  and inlined as literals so every branch of the plan sees identical
  boundaries); the cumsum runs within (source, shard) — distributed — and
  each shard's offset base is the per-shard token-total prefix, a second
  aggregate over a sources x shards-row table joined back.  Offsets are
  bit-identical to the single-window form because range bucketing
  preserves id order."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 2^60: the md5-prefix hash below is 15 hex digits = 60 bits
_HASH_SPACE = float(1 << 60)


def deterministic_uniform(col: Column, seed: int = 0) -> Column:
    """Uniform [0, 1) as a pure function of (col, seed): the shared
    md5-prefix 60-bit hash (one recipe, one home — ``dedup._seeded_hash64``
    with the md5 engine) divided by 2^60.  DuckDB restatement:
    ``('0x' || substr(md5(col || ':seed'), 1, 15))::BIGINT / 2^60``."""
    from .dedup import _seeded_hash64

    return _seeded_hash64(col.cast("string"), seed, "md5") / F.lit(_HASH_SPACE)


def sample_by_rates(
    df: DataFrame,
    rates: dict[str, float],
    key_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
    default_rate: float = 1.0,
) -> DataFrame:
    """Keep each row with probability ``rates[key]`` (deterministic in the
    row id).  The rate table is a literal CASE map — no join, no shuffle."""
    rate = F.lit(default_rate)
    for k, r in sorted(rates.items()):
        rate = F.when(F.col(key_col) == k, F.lit(float(r))).otherwise(rate)
    return df.where(deterministic_uniform(F.col(id_col), seed) < rate)


def sample_exact_quota(
    df: DataFrame,
    quotas: dict[str, int],
    key_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
    default_quota: int = 0,
) -> DataFrame:
    """Exactly min(quota, group size) rows per ``key_col`` group — the
    deterministic reservoir-sampling analog: rows rank by the seeded
    md5-hash of their id (a uniform random order that is a pure function
    of (id, seed)), and the first ``quota`` of each group survive.

    Rate sampling (``sample_by_rates``) keeps a binomially-distributed
    count; curated data mixes need EXACT per-source counts.  The per-group
    rank is the skew-proof ``two_phase_top_n`` (one source holding 90% of
    the corpus never lands on one task).  Restatable in any SQL engine as
    ``QUALIFY ROW_NUMBER() OVER (PARTITION BY key ORDER BY hash, id) <=
    quota``."""
    from .dedup import _seeded_hash64
    from .partition import two_phase_top_n

    max_q = max([default_quota, *quotas.values()], default=0)
    if max_q <= 0:
        return df.limit(0)
    quota = F.lit(default_quota)
    for k, q in sorted(quotas.items()):
        quota = F.when(F.col(key_col) == k, F.lit(int(q))).otherwise(quota)

    ordered = df.withColumn(
        "_ord", _seeded_hash64(F.col(id_col).cast("string"), seed, "md5")
    )
    # the two-phase rank bounds every window partition by partitions x
    # max_q; keeping its final rank lets the per-group quota cut reuse it
    # instead of running a second identical window
    top = two_phase_top_n(
        ordered, [key_col], ["_ord", id_col], max_q, rank_col="_rn"
    )
    return top.filter(F.col("_rn") <= quota).drop("_ord", "_rn")


def weighted_sample_topk(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic WEIGHTED sampling without replacement: per key the
    ``k`` rows with the smallest exponential priority survive — the
    Efraimidis–Spirakis A-ES scheme (u^(1/w) keys, taken in the
    equivalent -ln(u)/w form so higher weight means smaller key and
    proportionally higher selection odds), with the RNG replaced by the
    shared md5-uniform so the draw is a pure function of (id, seed).

    The priority is integer end-to-end after ONE quantized log:
    ``priority_key = floor(1e6 * -ln((h+1)/2^60)) * 1000 DIV w`` with
    ``h`` the 60-bit id hash — the bm25/pmi micro-nat discipline, so
    DuckDB replays the ranking exactly.  Weights must be positive
    integers (token counts, byte lengths); NULL/non-positive-weight rows
    can never be drawn and are excluded.  Ranking is the skew-proof
    ``two_phase_top_n``; adds ``priority_key`` and ``sample_rank``.
    """
    from .dedup import _seeded_hash64
    from .partition import two_phase_top_n

    if k < 1:
        raise ValueError("k must be >= 1")
    base = df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
    h = _seeded_hash64(F.col(id_col).cast("string"), seed, "md5")
    u = (h + F.lit(1)).cast("double") / F.lit(_HASH_SPACE)
    e_micro = F.floor(F.lit(-1_000_000.0) * F.log(u)).cast("long")
    scored = base.withColumn("_e_micro", e_micro).withColumn(
        "priority_key", F.expr(f"_e_micro * 1000 DIV {weight_col}")
    ).drop("_e_micro")
    return two_phase_top_n(
        scored,
        [key_col],
        [F.col("priority_key").asc(), F.col(id_col).asc()],
        k,
        rank_col="sample_rank",
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split long documents into <= ``max_tokens``-token chunks with
    ``overlap`` shared tokens between consecutive chunks (context-length
    preparation for training/retrieval).  One row per chunk: the original
    columns are replaced by (id, chunk_idx, chunk_text, n_tokens).

    All JVM column ops (split -> sequence -> explode -> slice ->
    array_join): the explode multiplies rows by chunks/doc, never bytes by
    more than (1 + overlap/stride); no Python, no shuffle."""
    if not 0 <= overlap < max_tokens:
        raise ValueError("require 0 <= overlap < max_tokens")
    step = max_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    n_chunks = F.when(n <= max_tokens, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((n - max_tokens) / F.lit(float(step))).cast("int")
    )
    out = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk = F.slice(F.col("_toks"), F.col("chunk_idx") * step + 1, max_tokens)
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_tokens"),
    )


def _shard_boundaries(
    df: DataFrame, id_col: str, shards: int, accuracy: int = 10000
) -> list:
    """``shards - 1`` ascending id values splitting the corpus into
    roughly-equal order-respecting range buckets.  One tiny aggregate
    (approximate percentiles, distributed sketch), collected ONCE so the
    boundary literals are identical in every branch of the downstream plan
    (a re-computed sketch could merge in a different order and hand two
    branches different shard labels)."""
    probs = [i / shards for i in range(1, shards)]
    row = df.agg(
        F.percentile_approx(F.col(id_col), probs, accuracy).alias("_b")
    ).head()
    return list(row["_b"]) if row is not None and row["_b"] is not None else []


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    part_col: str = "source",
    shards: int = 32,
    persist_input: bool = False,
) -> DataFrame:
    """Concat-and-chunk packing: within ``part_col`` (id order), documents
    form one token stream cut every ``budget`` tokens.

    Adds: ``start_offset`` (exclusive cumulative tokens), ``seq_id``
    (bin of the first token), ``end_seq_id`` (bin of the last token) and
    ``straddles`` (doc crosses a cut — a real loader would split it).

    ``shards`` bounds the per-task window size under source skew: the
    cumsum runs within (part, id-range shard) and per-shard prefix totals
    are added back, so a source holding 90% of the corpus spreads over
    ``shards`` tasks instead of one.  Sharding needs percentile boundaries
    (one eager tiny aggregate at plan-build time) and therefore a NUMERIC
    ``id_col`` on a BATCH frame; non-numeric ids, streaming inputs, and
    ``shards=1`` all fall back to the plain per-source window — exact same
    output either way, just the old one-task-per-source behavior.

    NOTE (ADVICE r3): the boundary sketch is an EAGER job at plan-build
    time, so the upstream plan executes once for the sketch and again for
    the real pass.  With a cheap upstream (a scan) that's the right trade;
    when ``df`` is an expensive subplan (e.g. a whole sampling+chunking
    chain), pass ``persist_input=True`` to cache it across both passes —
    consume inside ``caching.scoped_intermediates()`` to bound the cache
    lifetime."""
    from pyspark.sql.types import NumericType

    shardable = (
        shards > 1
        and not df.isStreaming
        and isinstance(df.schema[id_col].dataType, NumericType)
    )
    if shardable and persist_input:
        from ..caching import maybe_persist

        df = maybe_persist(df)
    bounds = _shard_boundaries(df, id_col, shards) if shardable else []
    if not bounds:
        # single-level fallback: one window per part, no extra join
        w = Window.partitionBy(part_col).orderBy(id_col)
        out = df.withColumn(
            "start_offset",
            (F.sum(token_col).over(w) - F.col(token_col)).cast("long"),
        )
        return _bin_offsets(out, budget, token_col)
    blit = F.array(*[F.lit(b) for b in bounds])
    # number of boundaries strictly below id: monotone in id, so shard
    # ranges partition the id order (ties land in the lower shard)
    out = df.withColumn("_shard", F.size(F.filter(blit, lambda b: b < F.col(id_col))))

    w = Window.partitionBy(part_col, "_shard").orderBy(id_col)
    out = out.withColumn("_local", F.sum(token_col).over(w) - F.col(token_col))

    # per-(part, shard) token totals -> exclusive prefix within the part:
    # a sources x shards-row table, joined back (AQE broadcasts it)
    totals = out.groupBy(part_col, "_shard").agg(F.sum(token_col).alias("_t"))
    wp = Window.partitionBy(part_col).orderBy("_shard")
    prefix = totals.select(
        part_col,
        "_shard",
        (F.sum("_t").over(wp) - F.col("_t")).alias("_prefix"),
    )
    out = out.join(prefix, [part_col, "_shard"]).withColumn(
        "start_offset", (F.col("_prefix") + F.col("_local")).cast("long")
    )
    # the join re-fronted the key columns; restore input order + new columns
    return _bin_offsets(out, budget, token_col).select(
        *df.columns, "start_offset", "seq_id", "end_seq_id", "straddles"
    )


def _bin_offsets(out: DataFrame, budget: int, token_col: str) -> DataFrame:
    """seq_id / end_seq_id / straddles from ``start_offset``."""
    out = out.withColumn(
        "seq_id", F.floor(F.col("start_offset") / budget)
    ).withColumn(
        "end_seq_id",
        F.floor((F.col("start_offset") + F.col(token_col) - 1) / budget),
    )
    return out.withColumn("straddles", F.col("seq_id") != F.col("end_seq_id"))


def _hashed_feature_buckets(
    df: DataFrame, id_col: str, text_col: str, buckets: int, engine: str
) -> DataFrame:
    """(doc, bucket) per feature OCCURRENCE: unigrams + bigrams of
    lower(text), hashed into ``buckets`` — the DSIR hashed n-gram feature
    map.  Multiplicity preserved (DSIR scores are count-weighted)."""
    from .dedup import _seeded_hash64

    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = F.concat(toks, bigrams)
    return df.select(
        F.col(id_col).alias("_id"), F.explode(feats).alias("feat")
    ).select(
        "_id",
        F.pmod(_seeded_hash64(F.col("feat"), 0, engine), F.lit(buckets)).alias("b"),
    )


def dsir_importance_scores(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 1024,
    engine: str = "md5",
) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for Language
    Models via Importance Resampling", NeurIPS 2023): score every raw
    document by how target-domain-like its hashed n-gram profile is, for
    importance resampling of a 100 TB crawl toward a small high-quality
    target (the data-selection step between hygiene and sampling).

    Per-bucket log ratio with add-1 smoothing over B buckets,
        lambda_b = ln( ((q_b+1)/(Q+B)) / ((p_b+1)/(P+B)) ),
    where p/q are raw/target feature-occurrence counts; a document's log
    importance weight is sum over its feature occurrences of
    lambda_bucket(feature).  Emitted as integer micro-nats
    (``floor(1e6 * lambda_b)`` per bucket, summed as BIGINT) so the score
    is association-order-free and exactly restatable in any SQL engine —
    float sums are not (same surrogate-integer rule as
    ``textmine.tf_idf_top_terms``).

    Scale shape: the corpus pays one explode + one broadcast join against
    a B-row literal table + one groupBy(doc) — no corpus x target join.
    The 2 x B bucket histograms are the ONLY driver-side collect (B rows
    each, bounded by construction); the target side is small by
    definition (a curated domain sample).  ``engine``: md5 (default) is
    the cross-engine-reproducible 60-bit hash for oracle checking;
    xxhash is the faster JVM-only production path.
    """
    import math

    from ..caching import maybe_persist

    spark = df.sparkSession
    # the raw feature stream feeds TWO actions (the p-histogram and the
    # final scoring join); persist so the corpus explode runs once
    # (unpersist via caching.scoped_intermediates in long-lived drivers)
    fb_raw = maybe_persist(_hashed_feature_buckets(df, id_col, text_col, buckets, engine))
    fb_tgt = _hashed_feature_buckets(target, id_col, text_col, buckets, engine)
    p = {int(r["b"]): int(r["n"]) for r in fb_raw.groupBy("b").agg(F.count(F.lit(1)).alias("n")).collect()}
    q = {int(r["b"]): int(r["n"]) for r in fb_tgt.groupBy("b").agg(F.count(F.lit(1)).alias("n")).collect()}
    p_tot, q_tot = sum(p.values()), sum(q.values())
    lam = [
        (
            b,
            int(
                math.floor(
                    1000000.0
                    * math.log(
                        ((q.get(b, 0) + 1) / (q_tot + float(buckets)))
                        / ((p.get(b, 0) + 1) / (p_tot + float(buckets)))
                    )
                )
            ),
        )
        for b in range(buckets)
    ]
    lam_df = spark.createDataFrame(lam, "b long, lam long")
    return (
        fb_raw.join(F.broadcast(lam_df), "b")
        .groupBy(F.col("_id").alias(id_col))
        .agg(F.sum("lam").alias("score_micro"))
    )


def importance_resample(
    scores: DataFrame,
    k: int,
    id_col: str = "doc_id",
    score_col: str = "score_micro",
    seed: int = 0,
) -> DataFrame:
    """Select ``k`` documents without replacement with probability
    proportional to ``exp(score)`` — the resampling half of DSIR (the
    importance weights from ``dsir_importance_scores`` ARE log weights in
    micro-nats), via the Gumbel-top-k trick (Efraimidis & Spirakis 2006;
    Vieira 2014): ``argtop_k(log w_i + G_i)`` with i.i.d. Gumbel noise
    ``G_i = -ln(-ln(u_i))`` is an exact sample from the without-replacement
    weighted distribution.

    Determinism: ``u_i`` is the seeded md5 uniform of the id mapped to the
    OPEN interval (0, 1) — ``(hash + 0.5) / 2^60`` — so both ``ln``s are
    finite; the sample key is the integer micro-nat
    ``score + floor(1e6 * G)`` with ties broken by id, so the selection is
    a pure function of (id, seed) and restatable in any SQL engine.  (The
    floor of an engine-computed ``ln`` can flip only when ``1e6 * G`` sits
    within one ulp of an integer — the same ~1e-10/row exposure the DSIR
    lambda table already accepts.)

    Scale shape: ``ORDER BY key LIMIT k`` compiles to
    ``TakeOrderedAndProject`` — per-partition top-k heaps merged on the
    driver, k rows collected, NO global sort shuffle.  One scan over the
    scores table; the noise column is scan-fused.
    """
    from .dedup import _seeded_hash64

    u = (
        _seeded_hash64(F.col(id_col).cast("string"), seed, "md5") + F.lit(0.5)
    ) / F.lit(_HASH_SPACE)
    key = (
        F.col(score_col)
        + F.floor(F.lit(1000000.0) * -F.log(-F.log(u)))
    ).cast("long")
    return (
        scores.withColumn("key_micro", key)
        .orderBy(F.desc("key_micro"), F.col(id_col))
        .limit(k)
    )


def assign_splits(
    df: DataFrame,
    splits: list[tuple[str, float]] | None = None,
    id_col: str = "doc_id",
    seed: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: the seeded md5 uniform of
    the id falls into cumulative ``[0, w1), [w1, w1+w2), ...`` ranges —
    a pure function of (id, seed), so the held-out sets are stable across
    reruns, resumable, immune to repartitioning, and exactly restatable
    in SQL (``CASE WHEN hash/2^60 < w1 THEN ...``).  Weights must sum to
    1 (validated); default 98/1/1.  Scan-fused CASE expression — no
    shuffle, no RNG state, the split column costs nothing at 100 TB.

    Splitting on the ID (not random()) is the production requirement:
    a re-run after adding documents must keep every previously-assigned
    doc in its old split or eval sets silently contaminate train.

    Boundaries are the cumulative prefix sums rounded to 12 decimals, so
    a boundary equals the decimal literal an oracle author writes (raw
    float accumulation would give 0.1+0.2 = 0.30000000000000004 while
    the SQL restatement says ``< 0.3`` — a silent off-by-one-ulp band)."""
    if splits is None:
        splits = [("train", 0.98), ("val", 0.01), ("test", 0.01)]
    if any(w <= 0 for _, w in splits):
        raise ValueError(f"split weights must all be positive, got {splits}")
    total = sum(w for _, w in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    u = deterministic_uniform(F.col(id_col), seed)
    expr = F.lit(splits[-1][0])
    cum = 0.0
    conds = []
    for name, w in splits[:-1]:
        cum = round(cum + w, 12)
        conds.append((cum, name))
    for cum, name in reversed(conds):
        expr = F.when(u < F.lit(cum), F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def split_leakage_pairs(
    pairs: DataFrame,
    splits: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Eval-contamination audit: near-duplicate pairs whose endpoints were
    assigned DIFFERENT splits — the channel through which a test document
    leaks (via its train-side near-copy) into training.  Id-hashed split
    assignment makes this leakage a certainty for every cross-id dup pair;
    this operator measures it, `assign_splits_grouped` prevents it.

    Two equi-joins of the (tiny relative to corpus) pair list onto the
    split table — pair-list-linear, no self-join."""
    sa = splits.select(
        F.col(id_col).alias("id_a"), F.col(split_col).alias("split_a")
    )
    sb = splits.select(
        F.col(id_col).alias("id_b"), F.col(split_col).alias("split_b")
    )
    return (
        pairs.select("id_a", "id_b")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b")
    )


def assign_splits_grouped(
    df: DataFrame,
    groups: DataFrame,
    splits: list[tuple[str, float]] | None = None,
    id_col: str = "doc_id",
    group_col: str = "component",
    seed: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Leakage-safe split assignment: hash the GROUP label (near-dup
    component from ``dedup.near_dedup_components``, URL host, author id,
    ...) instead of the document id, so every linked document lands in
    the same split — eliminating the train/test near-dup leakage that
    ``split_leakage_pairs`` detects.  Documents absent from ``groups``
    hash their own id (singleton semantics).  Same determinism contract
    as ``assign_splits``: stable across reruns and corpus growth AS LONG
    AS group labels are stable — a component label can change when new
    edges merge clusters, which re-rolls that cluster's split; freeze
    labels (or key on a stable group like the URL host) when that
    matters.  One left join onto the (corpus-small) group table, then the
    same scan-fused CASE.  The group column is renamed to a reserved name
    before the join so a ``df`` that already carries a column named
    ``group_col`` (e.g. the output of ``keep_best_per_component``) cannot
    produce an ambiguous reference."""
    if "_group" in df.columns:
        raise ValueError("df may not contain the reserved column '_group'")
    g = groups.select(F.col(id_col), F.col(group_col).alias("_group"))
    joined = df.join(g, id_col, "left")
    keyed = joined.withColumn(
        "_split_key", F.coalesce(F.col("_group"), F.col(id_col))
    )
    out = assign_splits(keyed, splits, id_col="_split_key", seed=seed, out_col=out_col)
    return out.drop("_split_key", "_group")


def unimax_allocation(
    counts: DataFrame,
    budget: int,
    max_epochs: int = 1,
    source_col: str = "source",
    tokens_col: str = "tokens",
) -> DataFrame:
    """UniMax mixture allocation (Chung et al. 2023, arXiv:2304.09151):
    spread a total token budget across sources as uniformly as possible
    while repeating no source more than ``max_epochs`` times — i.e.
    waterfilling with per-source cap = supply x max_epochs.  Low-resource
    languages/sources saturate at their cap; the rest share the remaining
    budget evenly at the water level.

    Exact integer arithmetic (the water level is floored), so allocations
    are bit-identical in any engine; up to |unsaturated| tokens of the
    budget go unassigned to flooring.  ``epochs_micro`` is the integer
    surrogate floor(alloc * 1e6 / supply) — the engine-exact ranking form
    used repo-wide (see ``textmine.tfidf_top_terms``).

    Scale note: the input is the per-source SUPPLY table (rows =
    |sources| — a mixture-design table produced by one corpus aggregate,
    small by construction), so the ordered window here is bounded by the
    source count, not the corpus; the one-row saturation aggregate
    broadcasts back."""
    if max_epochs <= 0 or budget < 0:
        raise ValueError("require max_epochs > 0 and budget >= 0")
    w = Window.orderBy(F.col("_cap"), F.col(source_col))
    wall = Window.partitionBy()
    t = (
        counts.select(
            F.col(source_col),
            F.col(tokens_col).cast("long").alias("_supply"),
            (F.col(tokens_col).cast("long") * max_epochs).alias("_cap"),
        )
        .withColumn("_idx", F.row_number().over(w))
        .withColumn("_cum", F.sum("_cap").over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wall))
    )
    b = F.lit(int(budget))
    # sorted ascending by cap, source i saturates iff giving every
    # not-yet-saturated source cap_i each would still fit the remaining
    # budget — the standard waterfill boundary, monotone in i
    t = t.withColumn(
        "_sat",
        (F.col("_cap") * (F.col("_n") - F.col("_idx") + 1))
        <= (b - (F.col("_cum") - F.col("_cap"))),
    )
    agg = t.agg(
        F.coalesce(F.max(F.when(F.col("_sat"), F.col("_idx"))), F.lit(0)).alias("_k"),
        F.coalesce(F.max(F.when(F.col("_sat"), F.col("_cum"))), F.lit(0)).alias("_cumk"),
    )
    j = t.crossJoin(F.broadcast(agg))
    level = F.floor(
        (b - F.col("_cumk")) / (F.col("_n") - F.col("_k"))
    ).cast("long")
    alloc = F.when(F.col("_idx") <= F.col("_k"), F.col("_cap")).otherwise(
        F.least(F.col("_cap"), level)
    )
    # epochs surrogate: multiply in DOUBLE (a long multiply overflows under
    # ANSI once a source's allocation tops ~9.2e12 tokens — squarely the
    # 100 TB regime) and guard zero supply (a legitimately empty source
    # must yield NULL epochs, not a DIVIDE_BY_ZERO job abort); beyond
    # ~9e9 allocated tokens the *1e6 double product can round in the last
    # ulp, an accepted trade at that magnitude
    epochs = F.when(
        F.col("_supply") > 0,
        F.floor(alloc.cast("double") * 1000000.0 / F.col("_supply")).cast("long"),
    )
    return j.select(
        F.col(source_col),
        F.col("_supply").alias("supply_tokens"),
        F.col("_cap").alias("cap_tokens"),
        alloc.alias("alloc_tokens"),
        epochs.alias("epochs_micro"),
    )


def contrastive_triplets(
    pairs: DataFrame,
    corpus: DataFrame,
    anchor_col: str = "anchor_id",
    positive_col: str = "positive_id",
    id_col: str = "doc_id",
    k_neg: int = 2,
    pool_size: int = 4096,
    seed: int = 0,
) -> DataFrame:
    """(anchor, positive, negative) triplets for contrastive training —
    the step after near-dup mining: the dedup family FINDS semantically
    close pairs (minhash survivors, exact-jaccard pairs, embedding
    near-pairs); an embedding/reranker trainer then needs each pair
    decorated with k random negatives.  Fully deterministic (same
    inputs + seed -> same triplets) so the training set is replayable.

    Negative draw, scale-first: uniform sampling over a 100 TB corpus
    per request is a join nobody should write, so negatives come from a
    DETERMINISTIC BROADCAST POOL — the ``pool_size`` corpus docs with
    the smallest md5 hash (bottom-k = a uniform random sample under the
    hash's uniformity, stable across runs and engines).  Request i of an
    anchor picks pool index md5(anchor:':'i':'seed) mod |pool|.  Pool
    bias is the documented trade (same spirit as in-batch negatives);
    raise pool_size when the task needs finer coverage — the pool stays
    a TakeOrdered + bounded window, never a corpus-wide rank.

    Collisions (negative == anchor or == positive) are DROPPED, not
    redrawn (a redraw chain breaks the closed-form oracle); with a
    realistic pool the loss is ~k_neg/pool_size of rows, and callers
    needing exactly k draw with k+1 and trim.

    Output: (anchor, positive, neg_i BIGINT in 1..k_neg, negative_id).

    Scale shape: one TakeOrdered(pool_size) over the corpus hash pass,
    a bounded row_number over the pool only, one broadcast join of
    requests x pool on the index — pairs-side work is |pairs| x k_neg
    rows, corpus-side one scan.
    """
    from .dedup import _seeded_hash64

    if k_neg < 1:
        raise ValueError("k_neg must be >= 1")
    if pool_size < 2:
        raise ValueError("pool_size must be >= 2")
    pool = (
        corpus.select(
            F.col(id_col).alias("_neg"),
            _seeded_hash64(F.col(id_col).cast("string"), seed, "md5").alias("_h"),
        )
        .orderBy(F.col("_h").asc(), F.col("_neg").asc())
        .limit(pool_size)
    )
    win = Window.partitionBy(F.lit(1)).orderBy(F.col("_h").asc(), F.col("_neg").asc())
    pool_idx = pool.select(
        (F.row_number().over(win) - 1).cast("long").alias("_idx"), "_neg"
    )
    pool_n = pool_idx.agg(F.count(F.lit(1)).cast("long").alias("_p"))
    req = (
        pairs.select(
            F.col(anchor_col).alias("anchor"),
            F.col(positive_col).alias("positive"),
            F.explode(F.sequence(F.lit(1), F.lit(k_neg))).alias("neg_i"),
        )
        .crossJoin(F.broadcast(pool_n))
        .withColumn(
            "_idx",
            F.pmod(
                _seeded_hash64(
                    F.concat(
                        F.col("anchor").cast("string"),
                        F.lit(":"),
                        F.col("neg_i").cast("string"),
                    ),
                    seed,
                    "md5",
                ),
                F.col("_p"),
            ).cast("long"),
        )
    )
    return (
        req.join(F.broadcast(pool_idx), "_idx")
        .where((F.col("_neg") != F.col("anchor")) & (F.col("_neg") != F.col("positive")))
        .select(
            "anchor",
            "positive",
            F.col("neg_i").cast("long").alias("neg_i"),
            F.col("_neg").alias("negative_id"),
        )
    )


def priority_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Priority sampling (Duffield, Lund & Thorup, JACM 2007): a weighted
    size-k sample supporting UNBIASED subset-sum estimation — the
    principled way to keep "k representative documents" when weights
    (bytes, tokens, traffic) vary by orders of magnitude, and the exact
    answer any downstream sum-over-sample should be corrected with.

    Each row draws priority q = w / u with u uniform in (0, 1] — here the
    shared deterministic md5-uniform, so the draw is a pure function of
    (id, seed) — and the k highest-priority rows survive.  With tau = the
    (k+1)-th highest priority, the estimator w_hat = max(w, tau) makes
    E[sum of w_hat over S ∩ A] = sum of w over A for every subset A.

    Output: (``id_col``, ``weight_col``, est_milli BIGINT, tau_milli
    BIGINT) — estimates as half-up milli-units (the repo's cross-engine
    rounding convention).  Rows with non-positive weight are excluded
    (they can never be sampled: q <= 0).

    Scale shape: one scan computing priorities + ONE distributed top-(k+1)
    (TakeOrderedAndProject — no global sort, no unpartitioned window);
    tau is a driver-side scalar from that bounded result (k+1 rows, same
    small-by-construction class as the PQ/k-means seeds), then the final
    top-k runs the same bounded-top-N plan with tau inlined as a literal.
    """
    from .dedup import _seeded_hash64

    if k < 1:
        raise ValueError("k must be >= 1")
    w = F.col(weight_col).cast("double")
    u = (
        _seeded_hash64(F.col(id_col).cast("string"), seed, "md5") + 1
    ) / F.lit(_HASH_SPACE)
    pri = (
        df.where(w > 0)
        .select(id_col, weight_col, (w / u).alias("_q"))
    )
    head = pri.orderBy(F.col("_q").desc(), F.col(id_col)).limit(k + 1).collect()
    head.sort(key=lambda r: (-r["_q"], r[id_col]))
    tau = float(head[k]["_q"]) if len(head) > k else 0.0
    est = F.greatest(w, F.lit(tau))
    return (
        pri.orderBy(F.col("_q").desc(), F.col(id_col))
        .limit(min(k, len(head)))
        .select(
            id_col,
            weight_col,
            F.floor(est * 1000 + F.lit(0.5)).cast("long").alias("est_milli"),
            F.lit(int(tau * 1000 + 0.5)).cast("long").alias("tau_milli"),
        )
    )


def priority_sample_oracle_sql(
    rows_sql: str,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
) -> str:
    """DuckDB replay: identical md5-uniform, priorities, (k+1)-th-largest
    threshold, and milli-unit estimator."""
    space = float(1 << 60)
    return f"""
    WITH pri AS (
        SELECT {id_col}, {weight_col},
               CAST({weight_col} AS DOUBLE) / (
                   (CAST(('0x' || substr(md5(CAST({id_col} AS VARCHAR) || ':{seed}'), 1, 15)) AS BIGINT) + 1)
                   / CAST({space} AS DOUBLE)
               ) AS q
        FROM ({rows_sql}) t
        WHERE CAST({weight_col} AS DOUBLE) > 0
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY q DESC, {id_col}) AS rn FROM pri
    ), tau AS (
        SELECT COALESCE(MAX(CASE WHEN rn = {k} + 1 THEN q END), 0.0) AS tau
        FROM ranked
    )
    SELECT r.{id_col}, r.{weight_col},
           CAST(FLOOR(GREATEST(CAST(r.{weight_col} AS DOUBLE), t.tau) * 1000 + 0.5) AS BIGINT) AS est_milli,
           CAST(FLOOR(t.tau * 1000 + 0.5) AS BIGINT) AS tau_milli
    FROM ranked r CROSS JOIN tau t
    WHERE r.rn <= {k}
    """
