"""Exact set-similarity join via prefix filtering (PPJoin family).

The EXACT complement to the MinHash/SimHash probabilistic ladder in
``operators/dedup.py``: every pair with word-set Jaccard >= t, no false
negatives, no df-capped shingle universe — the guarantee
``ngram_jaccard_pairs(max_shingle_df=...)`` deliberately trades away.
Algorithm is the distributed prefix-filter join of Vernica, Carey &
Li (SIGMOD 2010, "Efficient Parallel Set-Similarity Joins Using
MapReduce") with the prefix principle of PPJoin (Xiao et al., WWW 2008):

1. one corpus pass tokenizes each document to its DISTINCT token set;
2. one aggregate computes global token document frequencies; each
   document's tokens are then ordered rarest-first (df asc, token asc);
   the ordering is attached by joining the df table back on token — a
   shuffle bounded by the DISTINCT-token explosion (Zipf: far below
   corpus x avg-length), never corpus x corpus;
3. PREFIX: with BOTH sides sorted by the SAME global order, a pair with
   Jaccard >= t must share a token inside the two prefixes of length
   ``n - ceil(t*n) + 1`` (prefix-filtering lemma, Chaudhuri et al.
   ICDE 2006 / Bayardo et al. WWW 2007: if the prefixes were disjoint,
   compare their boundary tokens under the order — wlog x's boundary
   comes first; any common token in x's prefix would have to sit in y's
   SUFFIX, i.e. after y's boundary and hence after x's boundary,
   contradicting its position in x's prefix — so every common token is
   in x's suffix and |common| <= ceil(t*|x|) - 1 < t*|x| <= t*|union|,
   contradicting J >= t).  The shared global order is what makes the
   equi-join on prefix tokens lossless; per-side prefixes under
   DIFFERENT orders would not be.  Only prefix tokens are exploded into
   the candidate self-join, so the join key distribution is the RAREST
   tail of the vocabulary: the stop-word
   blowup that forces ``max_shingle_df`` elsewhere cannot occur here by
   construction at high t (a ubiquitous token enters a prefix only for
   documents made almost entirely of ubiquitous tokens);
4. LENGTH filter inside the join condition: J(a,b) <= n_small/n_big, so
   ``num * n_big <= den * n_small`` prunes impossible pairs before the
   distinct;
5. VERIFY: candidates join back to the (document-bounded) token arrays
   and the exact intersection is computed JVM-side
   (``array_intersect``); the threshold test is exact integer
   arithmetic — ``threshold`` is read as its decimal value via
   ``Fraction`` (same contract as ``dedup.ngram_containment_pairs``)
   and ``common * (den + num) >= num * (n_a + n_b)`` decides, so a pair
   at exactly the boundary never flaps on double rounding.

Scale shape: two corpus-sized aggregates (token sets, token df), one
prefix-exploded self-join whose cost is sum over prefix tokens of
(prefix-df)^2 — the PPJoin literature's bound — and one verify join
keyed by candidate pairs.  No stage touches corpus x corpus.  This
operator extends the repo's training-data dedup family (SURVEY.md's
LLM-pipeline section), not a collector component.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _threshold_fraction(threshold: float | tuple[int, int]) -> Fraction:
    frac = (
        Fraction(*threshold)
        if isinstance(threshold, tuple)
        else Fraction(str(threshold))
    )
    if not 0 < frac <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold!r}")
    return frac


#: separates token from occurrence index in weighted-mode elements; a
#: collision needs a literal \x01 inside a whitespace-delimited token.
_OCC_SEP = "\x01"


def _ordered_token_sets(
    df: DataFrame, id_col: str, text_col: str, weighted: bool = False
) -> DataFrame:
    """(_id, toks, n): per-document ELEMENT array under one global
    rarest-first order (df asc, element asc — total and deterministic,
    so prefixes are reproducible run-to-run).

    ``weighted=False``: elements are the DISTINCT lowercase whitespace
    tokens (set semantics).  ``weighted=True``: each token contributes
    ``w`` elements ``tok\\x01occ`` for occ in 1..w — the standard bag
    expansion, under which generalized (weighted) Jaccard
    sum(min)/sum(max) of the two count vectors IS plain set Jaccard of
    the element sets (element (t,i) lies in both bags iff
    i <= min(w_a, w_b)), so the prefix-filter lemma and the exact
    integer threshold test below carry over verbatim."""
    raw = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    if weighted:
        toks = (
            raw.groupBy("_id", "tok")
            .agg(F.count(F.lit(1)).alias("_w"))
            .select(
                "_id",
                F.explode(F.sequence(F.lit(1), F.col("_w"))).alias("_occ"),
                "tok",
            )
            .select(
                "_id", F.concat_ws(_OCC_SEP, F.col("tok"), F.col("_occ")).alias("tok")
            )
        )
    else:
        toks = raw.distinct()
    token_df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    return (
        toks.join(token_df, "tok")
        .groupBy("_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("_df"), F.col("tok")))),
                lambda s: s["tok"],
            ).alias("toks")
        )
        .withColumn("n", F.size("toks"))
    )


def _candidates(ordered: DataFrame, num: int, den: int) -> DataFrame:
    """Prefix-filtered candidate pairs (id_a < id_b) with the length
    filter folded into the join condition."""
    ceil_tn = F.floor((F.col("n") * num + den - 1) / den)
    pre = ordered.withColumn(
        "prefix", F.slice("toks", 1, (F.col("n") - ceil_tn + F.lit(1)).cast("int"))
    ).select("_id", "n", F.explode("prefix").alias("tok"))
    a, b = pre.alias("a"), pre.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a._id") < F.col("b._id"))
            & (F.col("a.n") * num <= F.col("b.n") * den)
            & (F.col("b.n") * num <= F.col("a.n") * den),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def jaccard_prefix_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float | tuple[int, int] = 0.6,
    weighted: bool = False,
) -> DataFrame:
    """All pairs (id_a < id_b) with word Jaccard >= threshold, EXACTLY.

    ``weighted=False``: set Jaccard over DISTINCT tokens.
    ``weighted=True``: generalized (weighted) Jaccard over token COUNT
    vectors — sum(min(w_a,w_b)) / sum(max(w_a,w_b)) — computed exactly
    via the bag expansion in ``_ordered_token_sets`` (n_a/n_b become
    total token counts, ``common`` becomes sum-of-mins); the
    term-frequency-aware near-dup signal (a doc that repeats one
    sentence 50x no longer matches its single-copy source at high t).

    Output: (id_a, id_b, common, n_a, n_b, jaccard) — counts as BIGINT,
    jaccard rounded 4dp for presentation AFTER the exact integer
    threshold test.  See module docstring for the filter chain and its
    cost bound.
    """
    frac = _threshold_fraction(threshold)
    num, den = frac.numerator, frac.denominator
    # the ordered-element table feeds THREE plan branches (prefix
    # candidates + both verify sides); persisting it collapses three
    # tokenize+df+sort passes into one (measured 11.2 s -> 2.0 s on the
    # weighted sf0.1 gate).  Callers looping over many corpora wrap in
    # caching.scoped_intermediates() to bound the cache lifetime.
    from ..caching import maybe_persist

    ordered = maybe_persist(_ordered_token_sets(df, id_col, text_col, weighted=weighted))
    docs_a = ordered.select(
        F.col("_id").alias("id_a"),
        F.col("toks").alias("toks_a"),
        F.col("n").alias("n_a"),
    )
    docs_b = ordered.select(
        F.col("_id").alias("id_b"),
        F.col("toks").alias("toks_b"),
        F.col("n").alias("n_b"),
    )
    return (
        _candidates(ordered, num, den)
        .join(docs_a, "id_a")
        .join(docs_b, "id_b")
        .withColumn(
            "common", F.size(F.array_intersect("toks_a", "toks_b")).cast("long")
        )
        # exact: common/(n_a+n_b-common) >= num/den  <=>  below
        .where(
            F.col("common") * (den + num) >= F.lit(num) * (F.col("n_a") + F.col("n_b"))
        )
        .select(
            "id_a",
            "id_b",
            "common",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 4
            ).alias("jaccard"),
        )
    )


def prefix_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float | tuple[int, int] = 0.6,
    weighted: bool = False,
) -> DataFrame:
    """The candidate stage alone (id_a, id_b) — exposed so tests can
    assert the prefix filter actually prunes below the all-pairs count
    while ``jaccard_prefix_join`` stays recall-exact."""
    frac = _threshold_fraction(threshold)
    return _candidates(
        _ordered_token_sets(df, id_col, text_col, weighted=weighted),
        frac.numerator,
        frac.denominator,
    )
