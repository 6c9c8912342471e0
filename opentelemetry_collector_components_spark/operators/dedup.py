"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection, all as
distributed DataFrame plans (no driver-side loops, no per-row Python):

- exact:    hash-groupBy on a canonical fingerprint — one shuffle.
- jaccard:  shingle -> explode -> self-join on shingle -> count common /
            union; quadratic only within shingle-sharing groups.
- minhash:  shingle -> 32 seeded min-hashes -> band into 8 bands of 4 ->
            candidates join on (band, band_hash) -> exact-verify.  The
            band join is the scale path: candidate generation is linear in
            rows + bucket-pair sizes, never all-pairs.
- simhash:  64-bit sign-aggregate of token hashes; near-dup = hamming <= k,
            blocked by 16-bit chunk equality (pigeonhole: <=3 differing
            bits guarantees one of 4 chunks equal).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import doc_fingerprint, md5_hash60, winnow_fingerprints


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents: keeper = min id."""
    fp = doc_fingerprint(F.col(text_col))
    return df.groupBy(fp.alias("fingerprint")).agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def exact_dedup_incremental(
    new_batch: DataFrame,
    seen_fingerprints: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental corpus growth: keep only new-batch documents whose
    fingerprint is neither in the historical ``seen_fingerprints`` table
    (one column: ``fingerprint``) nor duplicated within the batch (first
    id wins).  The production loop appends the survivors' fingerprints
    back to the seen table each batch.

    Shape at scale: ONE anti-join on the fingerprint (AQE picks
    broadcast/shuffle by size — history is usually the big side, so this
    shuffles both sides on the fingerprint, balanced by construction
    because fingerprints are hashes), then a skew-proof first-per-
    fingerprint rank over the survivors — a single pass, the anti-join is
    never evaluated in two plan branches."""
    from .partition import two_phase_top_n

    fp = doc_fingerprint(F.col(text_col))
    batch = new_batch.withColumn("fingerprint", fp)
    fresh = batch.join(seen_fingerprints, "fingerprint", "left_anti")
    return two_phase_top_n(fresh, ["fingerprint"], [id_col], 1)


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-gram shingles as strings (distinct)."""
    toks = F.split(F.lower(text), r"\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws("\x01", F.slice(toks, i + 1, k))
    )
    return F.when(n >= k, F.array_distinct(grams)).otherwise(F.array())


def _exploded_shingles(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingles(F.col(text_col), k)).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int | None = None,
    exact: bool = False,
) -> DataFrame:
    """All pairs (a < b) with Jaccard(shingles_a, shingles_b) >= threshold.

    Self-join on shingle: cost is sum over shingles of (docs sharing it)^2 —
    tractable when shingles are discriminative; for web scale prefer
    minhash_lsh_pairs below.  To stop an uncapped run from detonating on
    web text (one stop-word shingle shared by 10^6 docs = 10^12 join rows),
    callers must EITHER set ``max_shingle_df`` (the scale path) OR opt into
    full-universe semantics explicitly with ``exact=True`` (test/oracle
    scale only) — same contract as ``similarity.embedding_near_pairs``.

    ``max_shingle_df`` caps shingle document frequency: shingles shared by
    more than that many documents (stop-word k-grams on web text) are
    dropped from the universe BEFORE the self-join, bounding join cost at
    sum(min(df, cap)^2) instead of the quadratic blowup a single 10^6-doc
    shingle causes.  Dropped shingles are excluded from both the common
    count and the set sizes, so Jaccard is computed exactly on the filtered
    universe (the standard discriminative-shingle approximation).
    """
    stats = _shingle_pair_stats(
        df, id_col, text_col, k, max_shingle_df, exact, "ngram_jaccard_pairs"
    )
    # threshold the RAW ratio (the 4dp rounding is presentation only — a
    # rounded-then-filtered 0.19996 would diverge from any SQL restatement
    # that filters the exact ratio)
    ratio = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    out = stats.filter(ratio >= threshold).withColumn(
        "jaccard", F.round(ratio, 4)
    )
    return out.select("id_a", "id_b", "jaccard")


def _shingle_pair_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    max_shingle_df: int | None,
    exact: bool,
    caller: str,
) -> DataFrame:
    """Shared shingle-overlap pair statistics: (id_a, id_b, common, n_a,
    n_b) for every a < b pair sharing >= 1 (df-capped) shingle.  The
    max_shingle_df/exact contract and its cost bound are documented on
    ``ngram_jaccard_pairs``."""
    if max_shingle_df is None and not exact:
        raise ValueError(
            f"{caller} without max_shingle_df is quadratic in the "
            "hottest shingle's document frequency; set max_shingle_df (scale "
            "path) or pass exact=True to accept full-universe semantics"
        )
    ex = _exploded_shingles(df, id_col, text_col, k)
    if max_shingle_df is not None:
        rare = (
            ex.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        ex = ex.join(rare, "shingle", "left_semi")
    sizes = ex.groupBy("_id").agg(F.count(F.lit(1)).alias("n"))
    a = ex.alias("a")
    b = ex.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("n").alias("n_b"))
    return common.join(sa, "id_a").join(sb, "id_b")


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float | tuple[int, int] = 0.5,
    max_shingle_df: int | None = None,
    exact: bool = False,
) -> DataFrame:
    """ASYMMETRIC shingle containment — the quote/partial-inclusion
    detector symmetric Jaccard structurally misses: a 50-token quote
    inside a 5,000-token page has Jaccard ~0.01 but containment(quote in
    page) ~1.0 (Broder's containment measure, the ExactSubstr complement
    at shingle granularity).

    Emits every a < b pair where EITHER direction reaches ``threshold``:
    (id_a, id_b, common, n_a, n_b as BIGINTs; containment_a =
    common/n_a = fraction of a's shingles inside b, containment_b
    symmetric, both rounded 4dp).  The threshold test is EXACT integer
    arithmetic: ``threshold`` is read as its decimal value (``0.07`` means
    7/100, not the binary double, which would silently drop a pair at
    exactly the boundary — float 0.07*100 is 7.000000000000001 > 7) or as
    an explicit ``(num, den)`` tuple, and the test is
    ``common * den >= num * n``.  Same machinery, cost bound, and
    max_shingle_df/exact contract as ``ngram_jaccard_pairs`` — one
    exploded-shingle self-join, never corpus x corpus.
    """
    from fractions import Fraction

    frac = (
        Fraction(*threshold)
        if isinstance(threshold, tuple)
        else Fraction(str(threshold))
    )
    if not 0 < frac <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold!r}")
    num, den = frac.numerator, frac.denominator
    stats = _shingle_pair_stats(
        df, id_col, text_col, k, max_shingle_df, exact, "ngram_containment_pairs"
    )
    kept = stats.filter(
        (F.col("common") * den >= F.lit(num) * F.col("n_a"))
        | (F.col("common") * den >= F.lit(num) * F.col("n_b"))
    )
    return kept.select(
        "id_a",
        "id_b",
        F.col("common").cast("long").alias("common"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(F.col("common") / F.col("n_a"), 4).alias("containment_a"),
        F.round(F.col("common") / F.col("n_b"), 4).alias("containment_b"),
    )


def _seeded_hash64(col: Column, seed: int, engine: str) -> Column:
    """Seeded 64-bit integer hash of a string column.

    ``xxhash`` (default): Spark's JVM xxhash64 — the scale path.
    ``md5``: 60-bit integer from the first 15 hex chars of md5(s || ':' ||
    seed) — ~3x slower but reproducible in any SQL engine with ``md5()``
    (DuckDB: ``('0x' || substr(md5(s || ':' || seed), 1, 15))::BIGINT``),
    which turns the MinHash/SimHash gates into exact relational oracles.
    """
    if engine == "xxhash":
        return F.xxhash64(col, F.lit(seed))
    if engine == "md5":
        return md5_hash60(F.concat(col, F.lit(f":{seed}")))
    raise ValueError(f"unknown hash engine: {engine!r}")


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    k: int = 3,
    engine: str = "xxhash",
) -> DataFrame:
    """32 seeded min-hashes per document (one shuffle)."""
    ex = _exploded_shingles(df, id_col, text_col, k)
    mins = [
        F.min(_seeded_hash64(F.col("shingle"), seed, engine)).alias(f"mh{seed}")
        for seed in range(n_hashes)
    ]
    return ex.groupBy("_id").agg(*mins)


def _banded_signatures(sig: DataFrame, bands: int, rows_per_band: int, engine: str) -> DataFrame:
    """Band the signature table: one (_id, band, bh) row per band."""

    def band_hash(b: int) -> Column:
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        if engine == "xxhash":
            return F.xxhash64(*cols)
        # md5 engine: band key = md5 of the comma-joined slice — matches
        # DuckDB's md5(string_agg(mh::VARCHAR, ',' ORDER BY seed))
        return F.md5(F.concat_ws(",", *cols))

    band_cols = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_hash(b).alias("bh"))
            for b in range(bands)
        ]
    )
    return sig.select("_id", F.explode(band_cols).alias("bb")).select(
        "_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )


def _check_lsh_params(n_hashes: int, bands: int) -> int:
    """Validate the banding scheme and return rows-per-band.  Silent
    acceptance of a bad combination is worse than either failure mode it
    produces: ``n_hashes % bands != 0`` drops computed hashes (weaker
    recall than configured), and ``bands > n_hashes`` makes every band
    hash the empty slice so ALL pairs collide — the quadratic all-pairs
    explosion LSH exists to avoid."""
    if bands <= 0 or n_hashes <= 0 or n_hashes % bands != 0:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be a positive multiple of "
            f"bands ({bands})"
        )
    return n_hashes // bands


def _fuzzy_small_side_hits(
    df: DataFrame,
    small_df: DataFrame,
    left_name: str,
    right_name: str,
    id_col: str,
    text_col: str,
    n_hashes: int,
    bands: int,
    k: int,
    threshold: float,
    engine: str,
    broadcast_small: bool,
    banded_small: DataFrame | None = None,
    ex_small: DataFrame | None = None,
    sig_large: DataFrame | None = None,
) -> DataFrame:
    """Shared corpus-vs-small-side fuzzy matcher: MinHash band collisions
    between a large corpus and a small(er) document set, verified with
    exact Jaccard restricted to colliding pairs.  Used by benchmark
    decontamination (small side = eval suite) and incremental dedup
    (small side = the new batch); callers that already banded/exploded
    the small side pass the frames in to avoid recomputation.

    Scale shape: the corpus pays ONE signature pass plus a shingle pass
    restricted to candidate ids; the small side broadcasts when
    ``broadcast_small`` (bands and shingles both) — never a corpus
    self-join, never corpus x small all-pairs."""
    from ..caching import maybe_persist

    rows_per_band = _check_lsh_params(n_hashes, bands)
    bcast = F.broadcast if broadcast_small else (lambda d: d)
    if sig_large is None:
        sig_large = minhash_signatures(df, id_col, text_col, n_hashes, k, engine)
    banded_c = _banded_signatures(sig_large, bands, rows_per_band, engine)
    if banded_small is None:
        sig_s = minhash_signatures(small_df, id_col, text_col, n_hashes, k, engine)
        banded_small = _banded_signatures(sig_s, bands, rows_per_band, engine)
    banded_s = banded_small.select(F.col("_id").alias(right_name), "band", "bh")
    # cand is tiny (collided pairs) but feeds TWO branches (the shingle
    # restriction and the pair join); un-persisted, each branch re-runs
    # the corpus-wide signature pass — the single most expensive stage
    cand = maybe_persist(
        banded_c.join(bcast(banded_s), ["band", "bh"])
        .select(F.col("_id").alias(left_name), right_name)
        .distinct()
    )
    # candidate-restricted corpus shingles feed sizes + the pair join;
    # un-persisted, each branch re-runs the FULL-corpus shingle explode
    ex_c = maybe_persist(
        _exploded_shingles(df, id_col, text_col, k).join(
            cand.select(F.col(left_name).alias("_id")).distinct(), "_id", "left_semi"
        )
    )
    if ex_small is None:
        ex_small = _exploded_shingles(small_df, id_col, text_col, k)
    return _verify_candidate_pairs(
        cand, ex_c, ex_small, left_name, right_name, threshold,
        broadcast_right=broadcast_small,
    )


def contaminated_ids_fuzzy(
    df: DataFrame,
    bench_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.2,
    engine: str = "xxhash",
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: corpus documents whose
    MinHash bands collide with a benchmark document and whose exact
    Jaccard (computed only for colliding pairs) clears ``threshold``.
    The 13-gram rule (`contaminated_ids`) catches verbatim overlap; this
    catches paraphrased / reformatted / truncated contamination.

    Scale shape: the benchmark side is an eval suite (small), so its
    banded signatures and its shingles BROADCAST; the corpus pays one
    signature pass plus a shingle pass restricted to candidate ids —
    never a corpus self-join, never corpus x benchmark all-pairs."""
    return _fuzzy_small_side_hits(
        df, bench_df, "corpus_id", "bench_id", id_col, text_col,
        n_hashes, bands, k, threshold, engine,
        broadcast_small=True,
    )


def _verify_candidate_pairs(
    cand: DataFrame,
    ex_left: DataFrame,
    ex_right: DataFrame,
    left_col: str,
    right_col: str,
    threshold: float,
    broadcast_right: bool = False,
) -> DataFrame:
    """Exact-Jaccard verification over an explicit candidate PAIR list —
    the one shared convention (rounding included, it is oracle-visible)
    for every LSH-candidate verifier: set sizes per side, common-shingle
    counts routed through the pair list, round(common / union, 4) >=
    threshold.  ``broadcast_right`` marks a small right universe (a
    benchmark set)."""
    szl = ex_left.groupBy("_id").agg(F.count(F.lit(1)).alias("n_l")).withColumnRenamed("_id", left_col)
    szr = ex_right.groupBy("_id").agg(F.count(F.lit(1)).alias("n_r")).withColumnRenamed("_id", right_col)
    right_sel = ex_right.select(F.col("_id").alias(right_col), "shingle")
    if broadcast_right:
        right_sel, szr = F.broadcast(right_sel), F.broadcast(szr)
    common = (
        cand.join(ex_left.select(F.col("_id").alias(left_col), "shingle"), left_col)
        .join(right_sel, [right_col, "shingle"])
        .groupBy(left_col, right_col)
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(szl, left_col)
        .join(szr, right_col)
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n_l") + F.col("n_r") - F.col("common")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(left_col, right_col, "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.2,
    engine: str = "xxhash",
) -> DataFrame:
    """MinHash LSH candidate generation + exact Jaccard verification.

    bands of rows=n_hashes/bands; a pair becomes a candidate if any band's
    signature slice matches exactly (bucket join, linear candidate cost).
    Candidates are then verified with the exact shingle join restricted to
    candidate ids, so output == ngram_jaccard_pairs restricted to recall of
    the LSH (sound, possibly incomplete — the standard trade)."""
    from ..caching import maybe_persist

    rows_per_band = _check_lsh_params(n_hashes, bands)
    # signatures feed BOTH sides of the band self-join; one row per doc of
    # n_hashes longs (~0.3% of corpus bytes) — materializing signatures is
    # the standard LSH design
    sig = maybe_persist(minhash_signatures(df, id_col, text_col, n_hashes, k, engine))
    banded = _banded_signatures(sig, bands, rows_per_band, engine)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    # Exact Jaccard verification restricted to the candidate set: shingles
    # are semi-joined down to candidate ids, then common-shingle counts are
    # computed per candidate PAIR by routing shingles through the pair list
    # (cand ⋈ shingles_a ⋈ shingles_b on (id_b, shingle)).  Cost is
    # O(|cand| x shingles/doc) — linear in the LSH output — never the
    # full-corpus shingle self-join LSH exists to avoid.
    ex = _exploded_shingles(df, id_col, text_col, k)
    cand_ids = (
        cand.select(F.col("id_a").alias("_id"))
        .union(cand.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    # ex_c feeds three branches (sizes + the pair join); each un-persisted
    # use would re-run the FULL-corpus shingle explode.
    # Bounded by candidate ids x shingles/doc — the LSH already shrank it.
    ex_c = maybe_persist(ex.join(cand_ids, "_id", "left_semi"))
    return _verify_candidate_pairs(cand, ex_c, ex_c, "id_a", "id_b", threshold)


def fuzzy_dedup_incremental(
    new_df: DataFrame,
    existing_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.2,
    engine: str = "xxhash",
    broadcast_new: bool = True,
    existing_sig: DataFrame | None = None,
) -> DataFrame:
    """Incremental NEAR-duplicate dedup — the fuzzy counterpart of
    ``exact_dedup_incremental`` for the production growing-corpus loop:
    from a new batch, drop every document whose exact Jaccard clears
    ``threshold`` against an already-accepted corpus document OR against a
    lower-id document in the same batch; return the surviving new rows.

    Scale shape: the corpus side pays ONE signature pass and a
    candidate-restricted shingle pass — at production scale pass
    ``existing_sig`` (the signature STORE written at accept time with
    ``write_signature_store``/``read_signature_store``; signatures are
    pure functions of the text, so persist them once), which skips the
    corpus signature pass entirely and makes each batch's cost linear in
    batch size + collisions, independent of corpus size.
    ``broadcast_new=True`` ships the (small) batch's bands and shingles
    to the corpus-side scan — the batch ≪ corpus assumption; pass False
    when a backfill batch rivals the corpus and the band match should
    shuffle on (band, bh) instead.  Never corpus x batch all-pairs,
    never a corpus self-join."""
    from ..caching import maybe_persist

    rows_per_band = _check_lsh_params(n_hashes, bands)
    if existing_sig is not None:
        existing_sig = _validate_signature_frame(existing_sig, n_hashes, k, engine)
    # the batch's bands and shingles feed both the cross match and the
    # within-batch match — compute and persist each once
    sig_n = minhash_signatures(new_df, id_col, text_col, n_hashes, k, engine)
    banded_n = maybe_persist(_banded_signatures(sig_n, bands, rows_per_band, engine))
    ex_n = maybe_persist(_exploded_shingles(new_df, id_col, text_col, k))
    cross = _fuzzy_small_side_hits(
        existing_df, new_df, "old_id", "new_id", id_col, text_col,
        n_hashes, bands, k, threshold, engine,
        broadcast_small=broadcast_new,
        banded_small=banded_n, ex_small=ex_n, sig_large=existing_sig,
    )
    within_cand = (
        banded_n.alias("a")
        .join(
            banded_n.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    within = _verify_candidate_pairs(within_cand, ex_n, ex_n, "id_a", "id_b", threshold)
    removed = (
        cross.select(F.col("new_id").alias(id_col))
        .union(within.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    return new_df.join(removed, id_col, "left_anti")


def write_signature_store(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    k: int = 3,
    engine: str = "xxhash",
    mode: str = "append",
) -> None:
    """Persist MinHash signatures for the accepted corpus — the store that
    makes ``fuzzy_dedup_incremental`` corpus-size-independent per batch.
    Signatures are pure functions of (text, seed set), so write each
    accepted batch ONCE (``mode='append'``) and never recompute; schema is
    (id, mh0..mh{n-1}, param tag) parquet.  The (n_hashes, k, engine)
    parameters are encoded in a tag COLUMN NAME so a consumer can validate
    them by pure schema inspection — a store hashed with different
    parameters would band-match NOTHING and silently admit every
    near-duplicate, the worst failure mode of this loop.  Call with the
    surviving batch rows right after the dedup decision, mirroring the
    checkpoint write-then-mark pattern in ``plans/checkpoint.py``."""
    sig = minhash_signatures(df, id_col, text_col, n_hashes, k, engine)
    tagged = sig.withColumnRenamed("_id", id_col).withColumn(
        _sig_meta_col(n_hashes, k, engine), F.lit(True)
    )
    tagged.write.mode(mode).parquet(path)


def _sig_meta_col(n_hashes: int, k: int, engine: str) -> str:
    return f"_sigmeta_n{n_hashes}_k{k}_{engine}"


def _validate_signature_frame(sig: DataFrame, n_hashes: int, k: int, engine: str) -> DataFrame:
    """Check a caller-supplied signature frame against the consuming
    parameters (schema inspection only — no job).  A tag mismatch or a
    wrong mh-column count raises; an untagged frame (caller-built) is
    checked for column count only."""
    tags = [c for c in sig.columns if c.startswith("_sigmeta_")]
    expected = _sig_meta_col(n_hashes, k, engine)
    if tags and tags != [expected]:
        raise ValueError(
            f"signature store was written with parameters {tags}, consumer "
            f"expects {expected!r}; mismatched signatures band-match "
            "nothing and silently disable dedup"
        )
    if f"mh{n_hashes - 1}" not in sig.columns or f"mh{n_hashes}" in sig.columns:
        raise ValueError(
            f"signature frame does not carry exactly mh0..mh{n_hashes - 1}"
        )
    return sig.drop(*tags)


def read_signature_store(spark, path: str, id_col: str = "doc_id") -> DataFrame:
    """Load a signature store written by ``write_signature_store`` in the
    shape ``fuzzy_dedup_incremental(existing_sig=...)`` expects (the
    parameter tag column rides along for consume-time validation)."""
    return spark.read.parquet(path).withColumnRenamed(id_col, "_id")


def _simhash_sig(df: DataFrame, id_col: str, text_col: str, engine: str) -> tuple[DataFrame, int]:
    """SimHash signature: per-bit sign of the sum over tokens of (+1/-1).

    Explode tokens once; one conditional sum per bit in a single
    hash-aggregate — one shuffle, all JVM.  Returns (df, n_bits):
    64 bits for the xxhash engine, 60 for the md5 engine (15 hex chars),
    whose bit math an ANSI-SQL oracle can replicate exactly.
    """
    n_bits = 64 if engine == "xxhash" else 60
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", _seeded_hash64(F.col("tok"), 0, engine) if engine == "md5" else F.xxhash64("tok"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(n_bits)
    ]
    agg = toks.groupBy("_id").agg(*bit_sums)
    sim = None
    for b in range(n_bits):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << b).cast("long") if b < 63 else F.when(F.col(f"b{b}") > 0, F.lit(-(1 << 63)).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return agg.select(F.col("_id").alias(id_col), sim.alias("simhash")), n_bits


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash (xxhash64 token hashes)."""
    sig, _ = _simhash_sig(df, id_col, text_col, "xxhash")
    return sig


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    engine: str = "xxhash",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on bit chunks.

    Blocking is pigeonhole-sound: with 4 chunks, any pair at hamming <= 3
    shares at least one chunk, so for max_hamming <= 3 the blocked join is
    also complete (finds exactly the all-pairs answer)."""
    sh, n_bits = _simhash_sig(df, id_col, text_col, engine)
    width = n_bits // 4
    mask = (1 << width) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), c * width).bitwiseAND(F.lit(mask)).alias("cv"),
            )
            for c in range(4)
        ]
    )
    blocked = sh.select(F.col(id_col).alias("_id"), "simhash", F.explode(chunks).alias("cc")).select(
        "_id", "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.cv").alias("cv")
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    cand = (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.cv") == F.col("b.cv")) & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def near_dedup_survivors(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate REMOVAL policy from a pair list: drop every document
    that has a lower-id near-duplicate partner (pairs carry id_a < id_b, so
    the removal set is exactly the distinct id_b values).

    Single anti-join — no iterative connected components: within any
    near-dup cluster the minimum id always survives, and every non-minimum
    doc linked by a pair is dropped.  This is the standard large-scale
    "keep one per pair-linked group" trade: docs linked only transitively
    through a removed doc may both survive (recall trade documented)."""
    removed = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(removed, on=id_col, how="left_anti")


def near_dedup_components(
    pairs: DataFrame,
    max_rounds: int = 25,
    id_col: str = "doc_id",
) -> DataFrame:
    """True transitive near-duplicate clusters (connected components) from
    a pair list, for callers that need more than the single-pass
    ``near_dedup_survivors`` policy: with pairs (A,C),(B,C) the pair-drop
    policy keeps both A and B, while one-per-component keeps only the
    cluster minimum A.  Returns (id, component) where ``component`` is the
    minimum id reachable through the pair graph.

    Iterative min-label propagation: every round each vertex takes the
    minimum of its own label and its neighbors' labels — one equi-join plus
    one partial-aggregated groupBy shuffle per round, converging in
    O(graph diameter) rounds.  Near-dup graphs are quasi-cliques (every
    member pairs with most others), so the diameter — and the round count —
    stays single-digit even at corpus scale.  Each round's label table is
    ``localCheckpoint``-ed: the join references labels twice, so without
    lineage truncation the logical plan DOUBLES per round and the driver
    dies building it long before the data is a problem.  (On a real
    cluster with executor churn, swap in reliable ``checkpoint()`` to a
    durable dir — localCheckpoint blocks die with their executor.)
    ``max_rounds`` bounds the pathological path-graph case and raises
    instead of silently returning partial components."""
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = (
        und.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    converged = False
    try:
        for _ in range(max_rounds):
            nbr_min = (
                und.join(labels, und["dst"] == labels["id"])
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
            )
            new_labels = (
                labels.alias("l")
                .join(nbr_min, F.col("l.id") == F.col("src"), "left")
                .select(
                    F.col("l.id").alias("id"),
                    F.least(
                        F.col("l.label"),
                        F.coalesce(F.col("nbr_label"), F.col("l.label")),
                    ).alias("label"),
                )
                .localCheckpoint()
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                converged = True
                break
    finally:
        # a mid-loop failure must not leak the persisted edge list
        und.unpersist()
    if not converged:
        raise ValueError(f"components did not converge in {max_rounds} rounds")
    return labels.select(F.col("id").alias(id_col), F.col("label").alias("component"))


def keep_best_per_component(
    docs: DataFrame,
    components: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware near-duplicate removal: given the transitive clusters
    from ``near_dedup_components`` and a per-document quality score, keep
    exactly the highest-score document per cluster (ties break to the
    lowest id) — the production upgrade over min-id-survives, since the
    arbitrary survivor is often the worst copy (truncated mirror, ad-laden
    scrape) while a quality score keeps the canonical one.  Documents in
    no cluster pass through unchanged with ``component = id``.

    Returns the full surviving ``docs`` rows plus a ``component`` column
    (= ``id`` for singletons).

    Scale shape: one equi-join of docs onto the (tiny relative to corpus)
    component table, a skew-proof two-phase per-component top-1 — partial
    top-1 per partition, then final top-1, so a mega-cluster never lands
    on one task — a left-anti join for the singletons, and one join-back
    to recover the surviving rows.  No window over an unpartitioned
    frame, no collect."""
    from .partition import two_phase_top_n

    scored = docs.select(F.col(id_col), F.col(score_col))
    member = scored.join(components, id_col)
    best = two_phase_top_n(
        member, ["component"], [F.col(score_col).desc(), F.col(id_col)], 1
    ).select(id_col, "component")
    singles = scored.join(
        components.select(id_col), id_col, "left_anti"
    ).select(F.col(id_col), F.col(id_col).alias("component"))
    return docs.join(best.unionByName(singles), id_col)


def dedup_corpus_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 8,
    max_doc_freq: int = 1,
) -> DataFrame:
    """Corpus-level repeated-line removal (the CCNet/RefinedWeb pass that
    strips boilerplate: any pseudo-line appearing in more than
    ``max_doc_freq`` documents is deleted from every document).

    Plan shape (scales linearly in corpus size):
      posexplode lines -> distinct (line, doc) pairs -> groupBy(line)
      count -> shuffle join exploded lines with their doc-frequency on
      the line key (AQE handles the hot-line skew) -> filter ->
      groupBy(doc) reassemble in original order via
      array_sort(collect_list(struct(pos, line))).

    The doc-frequency is computed as distinct-pairs-then-count rather than
    count_distinct(doc) per line: both steps partial-aggregate map-side
    (the pair distinct shuffles on the well-spread (line, doc) key, the
    count emits one partial row per map task), so a boilerplate line
    shared by 10^6 documents never funnels 10^6 rows to one reducer.

    Documents whose every line is boilerplate drop out of the result —
    the removal policy deletes them entirely (same as the oracle).
    """
    from ..functions.webtext import chunk_tokens

    lines = df.select(
        F.col(id_col),
        F.posexplode(chunk_tokens(F.col(text_col), chunk_size)).alias(
            "pos", "line"
        ),
    )
    freq = (
        lines.select("line", id_col)
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("line_df"))
    )
    kept = lines.join(freq, "line").where(F.col("line_df") <= max_doc_freq)
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            " ",
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )


def contamination_ngrams(
    df: DataFrame, text_col: str = "text", n: int = 13, max_tokens: int = 13
) -> DataFrame:
    """Benchmark-side helper: the first word ``n``-gram of each document
    (the canonical decontamination unit), distinct."""
    toks = F.slice(F.split(F.lower(F.col(text_col)), r"\s+"), 1, max_tokens)
    return (
        df.where(F.size(F.split(F.col(text_col), r"\s+")) >= n)
        .select(F.array_join(F.slice(toks, 1, n), " ").alias("gram"))
        .distinct()
    )


def contaminated_ids(
    df: DataFrame,
    bench_grams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination: documents sharing any word ``n``-gram
    with the benchmark set (the GPT-3/PaLM 13-gram overlap rule).

    The benchmark set is small by construction (eval suites, not corpora)
    -> broadcast hash join against the exploded distinct doc n-grams; one
    shuffle for the per-doc distinct + final count, no corpus self-join.
    """
    exploded = df.select(
        F.col(id_col), F.explode(_word_ngrams(text_col, n)).alias("gram")
    )
    hits = exploded.join(F.broadcast(bench_grams), "gram")
    return hits.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_hits"))


def _word_ngrams(text_col: str, n: int) -> Column:
    """Distinct overlapping word n-grams of lower(text) as strings."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    m = F.size(toks) - F.lit(n - 1)
    return F.when(
        m >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), m),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def contaminated_ids_bloom(
    df: DataFrame,
    bench_grams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    m_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> DataFrame:
    """``contaminated_ids`` semantics behind a broadcast Bloom prefilter —
    bit-identical output (Bloom has no false negatives; false positives
    die in the exact verify join), different 100 TB cost profile:

    ``contaminated_ids`` broadcasts the benchmark GRAM STRINGS (fine for
    one eval suite, ~10-100 MB for a large union of suites); this variant
    broadcasts a BITMAP at 2 bytes/gram at the m/n=16 sizing (2 MB per
    1M grams — size m_bits to ~16x the distinct gram count) and only the
    ~0.5% false-positive-rate survivor grams ever reach the (still
    broadcast) exact join.  At 100 TB the corpus-side exploded-gram
    stream is trillions of rows — dropping 99%+ of it with a
    whole-stage-codegen hash + numpy bit test before ANY join hardware
    is the difference between a scan and a scan plus a trillion-row
    probe of a 100 MB hash relation.

    ``bench_grams`` feeds two consumers (the bitmap-build action and the
    verify join), so it is persisted; release via
    ``caching.scoped_intermediates`` in long-lived drivers.

    Reference analog: membership prefilters in front of exact joins are
    standard collector-side practice (e.g. agent-side sampling decisions);
    no reference file implements Bloom dedup — this is pipeline surface.
    """
    from ..caching import maybe_persist
    from ..functions.bloom import bloom_might_contain, build_bloom_bitmap

    bench_grams = maybe_persist(bench_grams)
    bitmap = build_bloom_bitmap(bench_grams, "gram", m_bits, k_hashes)
    exploded = df.select(
        F.col(id_col), F.explode(_word_ngrams(text_col, n)).alias("gram")
    )
    cand = bloom_might_contain(exploded, "gram", bitmap, m_bits, k_hashes)
    hits = cand.join(F.broadcast(bench_grams), "gram")
    return hits.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_hits"))


def substring_dup_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 15,
    engine: str = "xxhash",
) -> DataFrame:
    """Exact-substring duplicate detection (the ExactSubstr rule of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better"):
    a document is flagged when any of its overlapping ``w``-token windows
    also occurs in a lower-id document.  Returns one row per flagged doc:
    ``(doc_id, n_dup_windows, earliest_owner)`` where ``earliest_owner``
    is the smallest doc id among the windows' first owners.

    Differs from ``dedup_corpus_lines`` (fixed non-overlapping chunks,
    removes the LINES) and from the MinHash family (set similarity): this
    catches verbatim boilerplate/quote reuse at document granularity with
    overlapping windows, the rule the suffix-array pass implements at
    Google scale.  A w-token window is the suffix-array match cut to a
    relational shape: shared substrings of length >= w share at least one
    aligned w-window, so flagging is EXACT for the >= w rule.

    Scale shape: windows are hashed to 64 bits BEFORE the shuffle — the
    groupBy key is 8 bytes, not a ~100-byte string (collision odds over
    10^12 windows: ~3e-8 with xxhash64; the md5 engine gives the oracle-
    reproducible 60-bit twin).  One explode + one gram-keyed aggregate +
    one join-back — no self-join, no all-pairs.  The hashed window stream
    feeds BOTH the owner aggregate and the join-back, so it is persisted
    (corpus scan + tokenize runs once, not twice); release via
    ``caching.scoped_intermediates`` in long-lived drivers.
    """
    from ..caching import maybe_persist

    ex = maybe_persist(
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(_word_ngrams(text_col, w)).alias("gram"),
        ).select("_id", _seeded_hash64(F.col("gram"), 0, engine).alias("gh"))
    )
    owners = ex.groupBy("gh").agg(
        F.min("_id").alias("_owner"), F.count(F.lit(1)).alias("_df")
    )
    # join-back on the hash: each doc's windows meet their first owner;
    # only windows someone else owns survive
    dup = ex.join(owners.where(F.col("_df") >= 2), "gh").where(
        F.col("_owner") < F.col("_id")
    )
    return dup.groupBy(F.col("_id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_dup_windows"),
        F.min("_owner").alias("earliest_owner"),
    )


def strip_domain_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
    chunk_size: int = 8,
    min_count: int = 2,
    frac: tuple[int, int] = (1, 2),
) -> DataFrame:
    """Per-domain boilerplate removal: a line is boilerplate for a domain
    when it appears in at least ``min_count`` docs AND in at least
    ``frac = (num, den)`` of that domain's documents; such lines are
    stripped from every document of that domain.  This is the per-site
    nav/footer/cookie-banner pass (trafilatura's "duplicate element on
    the same site" heuristic; CCNet dedups per shard for the same
    reason): a legal disclaimer on 80% of example.com pages is
    boilerplate THERE, while the same sentence quoted once on another
    domain is content — a corpus-global frequency rule
    (``dedup_corpus_lines``) cannot express that.

    The threshold compares ``line_df * den >= num * domain_docs`` in
    BIGINT — no float fraction, so the cut is exact and restatable in
    any SQL engine.  ``domain_docs`` is the row count per domain (one
    row per document).

    Plan shape: posexplode lines -> distinct (domain, line, doc) ->
    count per (domain, line) -> broadcast the tiny per-domain totals
    onto the frequency table -> LEFT ANTI join of the line stream
    against the boilerplate keys on (domain, line) -> reassemble in
    original order.  The anti join shuffles on the well-spread
    (domain, line) key (AQE splits a hot banner line); the exploded
    stream never carries counts.  Documents whose every line is
    boilerplate drop out (same removal policy as the corpus-lines op).
    The exploded line stream feeds BOTH the frequency aggregate and the
    anti join, so it is persisted (the corpus scan + chunk
    transform runs once); release via ``caching.scoped_intermediates``.
    """
    from ..caching import maybe_persist
    from ..functions.webtext import chunk_tokens

    num, den = frac
    lines = maybe_persist(
        df.select(
            F.col(id_col),
            F.col(domain_col),
            F.posexplode(chunk_tokens(F.col(text_col), chunk_size)).alias(
                "pos", "line"
            ),
        )
    )
    totals = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("_docs"))
    freq = (
        lines.select(domain_col, "line", id_col)
        .distinct()
        .groupBy(domain_col, "line")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    bp = (
        freq.join(F.broadcast(totals), domain_col)
        .where(
            (F.col("_df") >= min_count)
            & (F.col("_df") * den >= F.lit(num) * F.col("_docs"))
        )
        .select(domain_col, "line")
    )
    kept = lines.join(bp, [domain_col, "line"], "left_anti")
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            " ",
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = None,
    exact: bool = False,
) -> DataFrame:
    """MOSS-style overlap detection over winnowing fingerprints
    (Schleimer/Wilkerson/Aiken, SIGMOD 2003): doc pairs sharing at least
    ``min_shared`` selected fingerprints, with the shared count.

    Winnowing's local guarantee makes this sound for copy detection: any
    shared run of >= ``w + k - 1`` words produces an identical selected
    fingerprint in both docs, so the equi-join on fingerprint value finds
    every such overlap — no alignment, no all-pairs.  The join is keyed
    by fingerprint; a boilerplate fingerprint shared by d docs costs
    d^2 pairs, so the scale path requires ``max_fp_df`` (drop fingerprints
    hotter than the cap BEFORE the self-join, same discriminative-feature
    guard as ``ngram_jaccard_pairs``) unless ``exact=True`` opts into
    full-universe semantics on corpora known to be boilerplate-free.
    """
    if max_fp_df is None and not exact:
        raise ValueError(
            "winnow_overlap_pairs without max_fp_df is quadratic in the "
            "hottest fingerprint's document frequency; set max_fp_df (scale "
            "path) or pass exact=True to accept full-universe semantics"
        )
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode(winnow_fingerprints(F.col(text_col), k=k, w=w)).alias("_fp"),
    )
    if max_fp_df is not None:
        rare = (
            ex.groupBy("_fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_fp_df)
            .select("_fp")
        )
        ex = ex.join(rare, "_fp", "left_semi")
    a = ex.alias("a")
    b = ex.alias("b")
    return (
        a.join(b, (F.col("a._fp") == F.col("b._fp")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key: Column | str,
    window: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo, SIGMOD 1995):
    sort the corpus by a blocking key and emit every record pair within
    ``window`` positions of each other as a dedup candidate.

    The third blocking family beside hash buckets (MinHash LSH, SimHash
    chunks): SNM catches near-duplicates whose similarity lives in a
    sort-adjacent PREFIX (normalized titles, canonical URLs, lexical
    fingerprints) and its candidate count is exactly ``window * n`` —
    a hot key cannot blow up a bucket.  Classic usage runs multiple
    passes with different keys and unions the pairs.

    Scale shape: positions come from ``partition.global_positions``
    (range repartition + per-partition offsets — no unpartitioned
    window); the neighbor join is an EQUI-join on ``pos div window``
    with the right side exploded to its own and previous block, so each
    position joins <= 2 uniform buckets (never a range cross-join),
    then the exact gap filter keeps ``1 <= pos_b - pos_a <= window``.

    Output: (a_id, b_id, a_key, b_key, gap) with a_id the earlier
    record in sort order.  Pairs are candidates — verify with an exact
    measure (``ngram_jaccard_pairs`` arithmetic or
    ``ngram_containment_pairs``) before acting.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    key_col = F.col(key) if isinstance(key, str) else key
    base = df.select(F.col(id_col).alias("_id"), key_col.alias("_key"))
    from .partition import global_positions

    pos = global_positions(base, ["_key", "_id"], pos_col="_pos")
    blk = F.expr(f"_pos div {window}")
    a = pos.select(
        F.col("_id").alias("a_id"),
        F.col("_key").alias("a_key"),
        F.col("_pos").alias("_pa"),
        blk.alias("_blk"),
    )
    b = pos.select(
        F.col("_id").alias("b_id"),
        F.col("_key").alias("b_key"),
        F.col("_pos").alias("_pb"),
        F.explode(F.array(blk, blk - 1)).alias("_blk"),
    )
    return (
        a.join(b, "_blk")
        .where(
            (F.col("_pb") - F.col("_pa") >= 1)
            & (F.col("_pb") - F.col("_pa") <= window)
        )
        .select(
            "a_id",
            "b_id",
            "a_key",
            "b_key",
            (F.col("_pb") - F.col("_pa")).cast("long").alias("gap"),
        )
    )
