"""Bounded edit-distance similarity self-join (PassJoin).

Exact Levenshtein-threshold pair finding WITHOUT the all-pairs cross
join — the string-similarity primitive behind fuzzy key matching,
typo-cluster discovery, and near-identical short-field dedup (hosts,
usernames, SKUs, paths) that ``linkage.py``'s blocked comparators and
``dedup.py``'s token-set methods don't cover: those need a coarse
blocking key or shingle overlap, while edit distance cares about
single-character slips.

Method (Li, Deng, Feng — "PASS-JOIN: a partition-based method for
similarity joins", PVLDB 5(3), 2011): partition each string s into
k+1 disjoint segments; if ``ed(s, t) <= k`` then t contains at least
one of s's segments EXACTLY (pigeonhole — k edits touch at most k
segments), starting at a shift D from the segment's home position
with ``|D| + |(len(t)-len(s)) - D| <= k``.  Candidates are therefore
an equi-join between segment index entries and windowed-substring
probe entries; the verify is Spark's bounded ``levenshtein(a, b, k)``
(early-exit threshold form).  This implementation uses the simple
correct shift window ``[-k, k] ∩ [D-k, D+k]`` rather than the paper's
tighter multi-match-aware window — a few more candidates, identical
exact output after verification.

Strings shorter than k+1 characters cannot be partitioned into k+1
non-empty segments and so never index — but any partner at least k+1
long still finds the pair from its own side, so only pairs where BOTH
strings are <= k chars need the direct pairwise pool.  That pool is
quadratic in the <=k-length distinct-string count; a corpus with
millions of such tiny strings should exact-dedupe them first.

Scale shape: two scan-fused explodes (k+1 index entries per string;
O(k^3) probe entries per string — 75 at k=2), one hash equi-join on
(segment, source length, segment index), distinct on the bounded
candidate pairs, one join-back for the threshold verify.  No UDF, no
window, no driver collect; candidate count is driven by segment
selectivity, not corpus size squared.

Honest worst case: candidate volume is sum over (length, i, segment)
of index-count x probe-count, so a corpus where many SAME-LENGTH
strings share a segment — uniform prefixes like "host-..." landing
whole in segment 0 — degrades toward the quadratic same-class join
(the published PassJoin caveat; its multi-match-aware window trims
constants, not this blow-up).  Strip known shared affixes first, or
route such a corpus through ``dedup.simhash_near_pairs`` instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import maybe_persist


def edit_distance_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
    k: int = 2,
) -> DataFrame:
    """All unordered pairs within ``k`` edits: (id_a, id_b, dist) with
    ``id_a < id_b``.  Duplicate strings under distinct ids emit dist-0
    pairs; NULL strings are ignored.  ``id_col`` must be unique per
    row (it is the pair identity)."""
    if k < 1:
        raise ValueError("k must be >= 1 (k=0 is dedup_exact)")
    kp1 = k + 1
    base = maybe_persist(
        df.select(F.col(id_col).alias("id"), F.col(str_col).alias("s"))
        .where(F.col(str_col).isNotNull()),
    )

    # -- index entries: the k+1 segments of every string >= k+1 long.
    # lengths l_i = l div (k+1) + (i < l mod (k+1)), starts
    # p_i = i*(l div (k+1)) + min(i, l mod (k+1))  (longer segments
    # first; any fixed scheme works, probe must mirror it).
    idx = (
        base.where(F.length("s") >= kp1)
        .select("id", "s", F.length("s").alias("l"))
        .select(
            "id", "l", "s",
            F.explode(F.expr(f"sequence(0, {k})")).alias("i"),
        )
        .select(
            "id", "l", "i",
            F.expr(
                f"substring(s, 1 + i * (l div {kp1}) + least(i, l % {kp1}),"
                f" (l div {kp1})"
                f" + CASE WHEN i < l % {kp1} THEN 1 ELSE 0 END)"
            ).alias("seg"),
        )
    )

    # -- probe entries: for each candidate source length l (the length
    # of a potentially-matching indexed string) and segment index i,
    # the substrings of this string at every admissible shifted start.
    prb = (
        base.select("id", "s", F.length("s").alias("m"))
        .where(F.col("m") >= 1)
        .select(
            "id", "s", "m",
            F.explode(
                F.expr(f"sequence(greatest({kp1}, m - {k}), m + {k})")
            ).alias("l"),
        )
        .where(F.col("l") <= F.col("m") + k)  # empty when m + k < k+1
        .select(
            "id", "s", "m", "l",
            F.explode(F.expr(f"sequence(0, {k})")).alias("i"),
        )
        .select(
            "id", "s", "m", "l", "i",
            F.expr(
                f"(l div {kp1}) + CASE WHEN i < l % {kp1} THEN 1 ELSE 0 END"
            ).alias("li"),
            F.expr(f"i * (l div {kp1}) + least(i, l % {kp1})").alias("pi"),
        )
        .withColumn(
            "lo",
            F.expr(f"greatest(0, pi + greatest(-{k}, (m - l) - {k}))"),
        )
        .withColumn(
            "hi",
            F.expr(f"least(m - li, pi + least({k}, (m - l) + {k}))"),
        )
        .where(F.col("lo") <= F.col("hi"))
        .select(
            "id", "l", "i", "li", "s",
            F.explode(F.expr("sequence(lo, hi)")).alias("st"),
        )
        .select(
            "id", "l", "i",
            F.expr("substring(s, st + 1, li)").alias("seg"),
        )
    )

    cand = (
        idx.alias("x")
        .join(prb.alias("p"), ["l", "i", "seg"])
        .select(F.col("x.id").alias("ia"), F.col("p.id").alias("ib"))
        .where(F.col("ia") != F.col("ib"))
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
        )
    )

    # -- pairs where BOTH strings are <= k chars: neither side can
    # index, so verify the (tiny) length class pairwise.
    shorts = base.where(F.length("s") <= k)
    spairs = (
        shorts.alias("a")
        .join(shorts.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )

    strs_a = base.select(F.col("id").alias("id_a"), F.col("s").alias("sa"))
    strs_b = base.select(F.col("id").alias("id_b"), F.col("s").alias("sb"))
    return (
        cand.unionByName(spairs)
        .distinct()
        .join(strs_a, "id_a")
        .join(strs_b, "id_b")
        .select(
            "id_a", "id_b",
            F.levenshtein("sa", "sb", k).cast("long").alias("dist"),
        )
        .where(F.col("dist") >= 0)  # threshold form returns -1 past k
    )
