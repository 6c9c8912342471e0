"""Web-graph extraction from crawled HTML: anchor hrefs → resolved link
edges → host-level graph.

The input table is the Common-Crawl-style pages shape mandated by
BASELINE.json (``url``, ``html`` binary).  A crawl pipeline's first graph
step is always the same: pull ``<a href>`` targets out of every page,
resolve them against the page's base URL (RFC 3986 relative-reference
resolution, the subset crawlers actually need), and aggregate host→host
edges — the input to PageRank (``operators/graph.py::pagerank_quantized``),
frontier scheduling, and spam/hub analysis.

Everything is JVM-side column expressions — ``regexp_extract_all`` over
the decoded html, one ``explode``, string CASE resolution — so the
extraction rides whole-stage codegen and the parquet scan only reads the
two columns involved.  No UDFs, no Python in the data path.

Resolution rules (matching the oracle SQL bit-for-bit):

- ``scheme://...``       → kept as-is;
- ``//host/path``        → base scheme + target;
- ``/path``              → base scheme://host + target;
- ``path`` (relative)    → base directory (base path truncated at the
  last ``/``) + target;
- a ``#fragment`` suffix is stripped from the resolved URL;
- empty hrefs and pure-fragment links are dropped.

Scale shape: extract+resolve is embarrassingly parallel (map-only, no
shuffle); ``host_link_edges`` adds the single partial-aggregated groupBy
on (src_host, dst_host).  Hot hosts (the fixture's 20%-on-3-domains skew)
land on the *source* side of the group key, which carries the full
(src,dst) pair — far higher cardinality than either host alone — so the
shuffle spreads naturally; the two-phase map-side combine does the rest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# href value inside an <a ...> tag, either quote style, case-insensitive
# (HTML tag/attribute names are case-insensitive; real crawls carry
# <A HREF=...>).  [^"']* keeps the match inside one attribute; fragments
# survive into the capture and are stripped after resolution so
# `page#frag` and `page` dedupe together.
HREF_PATTERN = """(?i)<a\\s[^>]*href=["']([^"']*)["']"""


def _base_parts(url: Column) -> tuple[Column, Column, Column]:
    # scheme and host are case-insensitive per RFC 3986 §6.2.2.1 and are
    # normalized to lowercase; the path keeps its case (it is significant).
    scheme = F.lower(F.regexp_extract(url, r"(?i)^([a-z][a-z0-9+.-]*):", 1))
    host = F.lower(
        F.regexp_extract(url, r"(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    )
    path = F.regexp_extract(
        url, r"(?i)^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)?", 1
    )
    return scheme, host, path


def _base_directory(path: Column) -> Column:
    return F.when(path == "", F.lit("/")).otherwise(
        F.regexp_replace(path, r"[^/]*$", "")
    )


def _resolve_href_from(
    scheme: Column, host: Column, directory: Column, href: Column
) -> Column:
    """The href resolution CASE given precomputed base parts — split out
    (r6) so ``extract_links`` can hoist the three base-URL regex
    extractions above the link explode: they are per-PAGE values, and
    inlining them in the per-link expression re-ran them once per link."""
    resolved = (
        F.when(href.rlike(r"(?i)^https?://"), href)
        .when(href.rlike(r"(?i)^[a-z][a-z0-9+.-]*:"), F.lit(None).cast("string"))
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(scheme, F.lit("://"), host, href))
        .otherwise(F.concat(scheme, F.lit("://"), host, directory, href))
    )
    stripped = F.split_part(resolved, F.lit("#"), F.lit(1))
    keep = (href != "") & ~href.startswith("#")
    return F.when(keep, stripped)


def resolve_href(base_url: Column, href: Column) -> Column:
    """Resolve one href against its page URL; NULL for non-links.

    Any ``scheme:``-prefixed href is absolute per RFC 3986 — http(s) is
    kept verbatim, every other scheme (mailto:, javascript:, tel:,
    data:, ftp:, ...) is a non-navigational or non-web link and resolves
    to NULL rather than falling through to the directory-relative branch
    and fabricating a garbage edge.
    """
    scheme, host, path = _base_parts(base_url)
    return _resolve_href_from(scheme, host, _base_directory(path), href)


def extract_links(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """One row per (page url, resolved link) — the edge list at URL grain.

    ``html_col`` may be binary (the pages-table shape) or string; it is
    decoded as UTF-8 either way.

    The base-URL parts (scheme/host/directory — three regex extractions)
    are projected BEFORE the explode, so they are computed once per page
    rather than once per link (r6; guide §1.2).
    """
    return _extract_links_parts(df, html_col, url_col).select("url", "link")


def _extract_links_parts(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """(url, src_host, link) — ``extract_links`` plus the page's host
    (identical expression to ``host_of(url)``), all per-page values
    hoisted above the explode."""
    hrefs = F.regexp_extract_all(
        F.col(html_col).cast("string"), F.lit(HREF_PATTERN), F.lit(1)
    )
    scheme, host, path = _base_parts(F.col(url_col))
    out = (
        df.select(
            F.col(url_col).alias("url"),
            scheme.alias("_sch"),
            host.alias("_hst"),
            _base_directory(path).alias("_dir"),
            F.explode(hrefs).alias("_href"),
        )
        .withColumn(
            "link",
            _resolve_href_from(
                F.col("_sch"), F.col("_hst"), F.col("_dir"), F.col("_href")
            ),
        )
        .where(F.col("link").isNotNull())
        .select("url", F.col("_hst").alias("src_host"), "link")
    )
    return out


# full anchor element: href (group 1) and the inner markup up to the
# matching </a> (group 2) — child elements (<b>, <img>, line breaks) are
# allowed inside and tag-stripped afterwards; the lookahead guard stops
# group 2 at any new <a...> or </a>, so an UNCLOSED anchor never swallows
# the anchors after it (same containment the old [^<]* form had).  Two
# regexp_extract_all calls over the SAME pattern yield position-aligned
# arrays (Spark scans the string identically for both), so arrays_zip
# recovers the (href, text) pairs without a UDF.
ANCHOR_PATTERN = (
    r"""(?is)<a\s[^>]*href=["']([^"']*)["'][^>]*>((?:(?!</?a[\s>]).)*?)</a>"""
)


def extract_anchor_texts(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """One row per (page url, resolved link, anchor text).

    The anchor corpus is the classic web-scale retrieval signal (anchor
    text describes the TARGET page better than the target's own content —
    the original Google insight) and the reference's attribute-enrich
    stages have no equivalent, so this is a Spark-native addition for the
    crawl shape.  Anchor text is tag-stripped (child elements like
    ``<a href=..><img ..></a>`` or ``<a href=..><b>big</b> deal</a>``
    contribute their text content), whitespace-collapsed and trimmed;
    links whose text is empty after stripping (image anchors, spacer
    links) are kept with text NULL so link counting still sees them.

    Map-only: two regexp scans + one explode, no shuffle.
    """
    html = F.col(html_col).cast("string")
    hrefs = F.regexp_extract_all(html, F.lit(ANCHOR_PATTERN), F.lit(1))
    texts = F.regexp_extract_all(html, F.lit(ANCHOR_PATTERN), F.lit(2))
    pair = F.explode(F.arrays_zip(hrefs.alias("href"), texts.alias("text")))
    stripped = F.regexp_replace(F.col("_a.text"), r"<[^>]*>", " ")
    out = (
        df.select(F.col(url_col).alias("url"), pair.alias("_a"))
        .select(
            "url",
            F.col("_a.href").alias("_href"),
            F.trim(F.regexp_replace(stripped, r"\s+", " ")).alias("_text"),
        )
        .withColumn("link", resolve_href(F.col("url"), F.col("_href")))
        .where(F.col("link").isNotNull())
        .select(
            "url",
            "link",
            F.when(F.col("_text") != "", F.col("_text")).alias("anchor_text"),
        )
    )
    return out


def anchor_text_counts(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    cross_host_only: bool = True,
) -> DataFrame:
    """Aggregate the anchor corpus to (link, anchor_text, n_refs).

    ``cross_host_only`` keeps only anchors whose source host differs from
    the target host — on-site navigation ("Home", "Next") dominates raw
    counts and carries no retrieval signal, mirroring how production
    anchor corpora are built.  NULL-text anchors are dropped here (they
    count as links, not as text evidence).

    Scale shape: one partial-aggregated groupBy on (link, text) — far
    higher cardinality than either alone, so hot targets spread naturally;
    a top-k per target over this output should go through
    ``partition.two_phase_top_n``, never a raw window."""
    pairs = extract_anchor_texts(df, html_col=html_col, url_col=url_col)
    pairs = pairs.where(F.col("anchor_text").isNotNull())
    if cross_host_only:
        pairs = pairs.where(host_of(F.col("url")) != host_of(F.col("link")))
    return pairs.groupBy("link", "anchor_text").agg(
        F.count(F.lit(1)).cast("long").alias("n_refs")
    )


def top_anchor_texts(
    df: DataFrame,
    k: int = 3,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """First-k anchor texts per target link by (count desc, text asc) —
    the per-document anchor summary a retrieval index ingests.  Built on
    the skew-proof ``two_phase_top_n`` (a hot target like a homepage can
    carry millions of anchors; no single-task window)."""
    from .partition import two_phase_top_n

    counts = anchor_text_counts(df, html_col=html_col, url_col=url_col)
    return two_phase_top_n(
        counts,
        group_cols=["link"],
        order_cols=[F.col("n_refs").desc(), F.col("anchor_text").asc()],
        n=k,
        rank_col="rank",
    )


def host_of(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, r"(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)", 1))


def host_link_edges(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    drop_self_loops: bool = True,
) -> DataFrame:
    """Aggregate the extracted links to (src_host, dst_host, n_links).

    ``src_host`` rides the pre-explode projection of
    ``_extract_links_parts`` (one regex per page, not per link); only
    the dst side pays a per-link host extraction."""
    links = _extract_links_parts(df, html_col=html_col, url_col=url_col)
    edges = links.select(
        "src_host",
        host_of(F.col("link")).alias("dst_host"),
    )
    if drop_self_loops:
        edges = edges.where(F.col("src_host") != F.col("dst_host"))
    return edges.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).cast("long").alias("n_links")
    )


def host_degree_features(edges: DataFrame) -> DataFrame:
    """Per-host graph features from the (src_host, dst_host, n_links)
    edge table: out/in distinct-neighbor degrees, out/in link volumes,
    and the count of RECIPROCAL neighbors (hosts linked in both
    directions) — the spam/hub/authority feature block link-quality
    classifiers consume (excessive reciprocity is the classic link-farm
    signature).

    Scale shape: two partial-aggregated groupBys (one per direction), one
    hash self-join on the reversed key pair for reciprocity — the
    (src,dst) pair key is high-cardinality, so no skew treatment needed —
    then two broadcast-free outer joins on host.  Hosts appearing only as
    targets get zeroed out-features and vice versa.
    """
    out_side = edges.groupBy(F.col("src_host").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("out_hosts"),
        F.sum("n_links").cast("long").alias("out_links"),
    )
    in_side = edges.groupBy(F.col("dst_host").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("in_hosts"),
        F.sum("n_links").cast("long").alias("in_links"),
    )
    rev = edges.select(
        F.col("dst_host").alias("src_host"),
        F.col("src_host").alias("dst_host"),
    )
    recip = (
        edges.join(rev, ["src_host", "dst_host"], "left_semi")
        .groupBy(F.col("src_host").alias("host"))
        .agg(F.count(F.lit(1)).cast("long").alias("reciprocal_hosts"))
    )
    out = (
        out_side.join(in_side, ["host"], "full_outer")
        .join(recip, ["host"], "left")
    )
    zero = F.lit(0).cast("long")
    return out.select(
        "host",
        *[
            F.coalesce(F.col(c), zero).alias(c)
            for c in (
                "out_hosts", "out_links", "in_hosts", "in_links",
                "reciprocal_hosts",
            )
        ],
    )


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph — the
    local-clustering ingredient of host-graph quality signals (link-farm
    rings are triangle-dense; organic hub/authority neighborhoods are
    sparse).

    Input edges may be directed/duplicated/self-looped; they are first
    canonicalized to distinct undirected pairs.  The algorithm is the
    degree-ordered node-iterator (Schank & Wagner 2005, the standard
    distributed formulation): orient every edge from the lower-rank
    endpoint to the higher (rank = (degree, node) — a total order), so
    each triangle is counted exactly once as a wedge a→b, a→c (b < c
    implicit through ranks) closed by b→c.  Wedge volume is
    Σ out_deg(v)² with out-degrees bounded by √(2|E|) under this
    orientation — the reason the self-join cannot blow up on a hub node
    the way a naive undirected wedge join does.  Three shuffles total:
    degree aggregate, wedge equi-join on the pivot, closure semi-join.

    Returns ``(node, triangles BIGINT)`` — nodes in no triangle report 0.
    """
    from ..caching import maybe_persist

    a, b = F.col(src_col), F.col(dst_col)
    # persisted (r6): und feeds the degree union (twice) + the rank
    # join; deg feeds both rank sides + the final outer join; fwd feeds
    # both wedge sides + the closure union (twice); and closed feeds the
    # three per-corner projections — without these the canonicalization
    # and ESPECIALLY the wedge join re-executed once per reference
    # (the wedge join ran 3x per run)
    und = maybe_persist(
        edges.where(a != b)
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct(),
    )
    deg = maybe_persist(
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg")),
    )
    ranked = (
        und.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    )
    fwd = maybe_persist(
        ranked.select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("lo"), F.col("v").alias("hi")),
            )
            .otherwise(F.struct(F.col("v").alias("lo"), F.col("u").alias("hi")))
            .alias("e")
        ).select(F.col("e.lo").alias("lo"), F.col("e.hi").alias("hi")),
    )
    w1 = fwd.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    w2 = fwd.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    wedges = w1.join(w2, "a").where(F.col("b") < F.col("c"))
    closed = maybe_persist(
        wedges.join(
            fwd.select(F.col("lo").alias("b"), F.col("hi").alias("c")).unionAll(
                fwd.select(F.col("lo").alias("c"), F.col("hi").alias("b"))
            ),
            ["b", "c"],
            "left_semi",
        ),
    )
    per_corner = (
        closed.select(F.col("a").alias("node"))
        .unionAll(closed.select(F.col("b").alias("node")))
        .unionAll(closed.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_corner, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
        )
    )


def bfs_depths(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    max_rounds: int = 8,
) -> DataFrame:
    """Min-hop distance from a seed set over the directed host graph —
    the crawl-depth / link-distance feature (distance from trusted seed
    hosts is the classic TrustRank-style spam prior, and crawl frontiers
    schedule by it).

    Frontier-expansion BFS, one round per hop: join the current frontier
    to the edge table, anti-join against already-settled nodes, settle
    the survivors at distance ``round``.  Each round is one shuffle join
    plus one anti-join; ``localCheckpoint`` truncates the growing plan
    (same discipline as ``dedup.near_dedup_components``), and the
    round-end emptiness check stops early once the reachable set is
    exhausted, so ``max_rounds`` is a cap, not a fixed cost.

    Scale shape: the edge table shuffles on ``src`` each round (at
    production scale, pre-bucket the edge table by src so every round
    reuses the layout); the frontier is usually tiny relative to the
    graph, so AQE broadcasts it into the join.  Nodes whose shortest
    path exceeds ``max_rounds`` are absent from the output (documented
    truncation — the oracle applies the same bound).  For full
    reachability regardless of diameter use the label-propagation
    components operator instead; BFS exists to get exact DISTANCES for
    bounded hops.

    Returns (node, dist) with seeds at 0; unreachable nodes absent.
    """
    from ..caching import maybe_persist

    if max_rounds < 0:
        raise ValueError("max_rounds must be >= 0")
    # persisted: every BFS round joins the same edge table — without
    # this the select+distinct re-executes once per round
    e = maybe_persist(
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        ).distinct(),
    )
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = dist.select("node")
    for r in range(1, max_rounds + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .withColumn("dist", F.lit(r).cast("long"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        dist = dist.unionByName(nxt)
        frontier = nxt.select("node")
    return dist


def bowtie_decomposition(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    max_rounds: int = 8,
) -> DataFrame:
    """Broder bow-tie decomposition of a directed graph ("Graph
    structure in the Web", Broder et al., WWW 2000): classify every
    node as SCC / IN / OUT / TUBE / TENDRIL_IN / TENDRIL_OUT /
    DISCONNECTED / OTHER relative to the giant strongly-connected
    component — the canonical structural census of a crawled web
    corpus (what fraction of hosts can reach / be reached from the
    core decides crawl-seed and PageRank-teleport policy).

    Pivot-reachability construction (the standard distributed recipe —
    computing ALL SCCs is not needed for the census): pick the
    max-undirected-degree node (tie-break min id; a one-row collect,
    small-by-construction), BFS forward (F) and backward (B) from it,
    then SCC = F∩B, IN = B−SCC, OUT = F−SCC.  On web-shaped graphs the
    top-degree node sits in the giant SCC with overwhelming
    probability; callers with a known core can pass their own edge
    subset.  Remaining nodes: not weakly reachable from the pivot →
    DISCONNECTED; else forward-reachable from IN on the SCC-free
    subgraph (Tf) and/or backward-reachable from OUT on it (Tb):
    Tf∩Tb → TUBE (an IN→OUT path bypassing the core), Tf only →
    TENDRIL_IN, Tb only → TENDRIL_OUT, neither → OTHER (weakly
    attached without a qualifying directed path, e.g. a node pointing
    INTO IN).

    Five frontier BFS walks via ``bfs_depths`` (per-round
    localCheckpoint + early stop), each capped at ``max_rounds`` hops
    — documented truncation, replayed identically by the oracle; size
    the cap to the corpus diameter.  Scale shape: the edge table is
    persisted once and shuffles per round; the six membership flags
    join back on node (sort-merge on the node key; at production
    scale pre-bucket by node).  Returns (node, component).
    """
    from ..caching import maybe_persist

    e = maybe_persist(
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        ).distinct(),
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    und = maybe_persist(e.unionByName(rev).distinct())
    nodes = und.select(F.col("src").alias("node")).distinct()
    pivot = (
        und.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .orderBy(F.desc("deg"), F.asc("src"))
        .limit(1)
        .select(F.col("src").alias("node"))
    )
    fwd = maybe_persist(bfs_depths(e, pivot, "src", "dst", max_rounds).select("node"))
    bwd = maybe_persist(bfs_depths(rev, pivot, "src", "dst", max_rounds).select("node"))
    scc = maybe_persist(fwd.intersect(bwd))
    in_set = bwd.join(scc, "node", "left_anti")
    out_set = fwd.join(scc, "node", "left_anti")
    weak = bfs_depths(und, pivot, "src", "dst", max_rounds).select("node")
    e_free = e.join(
        scc.select(F.col("node").alias("src")), "src", "left_anti"
    ).join(scc.select(F.col("node").alias("dst")), "dst", "left_anti")
    rev_free = e_free.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    tf = bfs_depths(e_free, in_set, "src", "dst", max_rounds).select("node")
    tb = bfs_depths(rev_free, out_set, "src", "dst", max_rounds).select(
        "node"
    )

    def _flag(df: DataFrame, name: str) -> DataFrame:
        return df.select("node").withColumn(name, F.lit(True))

    res = (
        nodes.join(_flag(scc, "f_scc"), "node", "left")
        .join(_flag(in_set, "f_in"), "node", "left")
        .join(_flag(out_set, "f_out"), "node", "left")
        .join(_flag(weak, "f_weak"), "node", "left")
        .join(_flag(tf, "f_tf"), "node", "left")
        .join(_flag(tb, "f_tb"), "node", "left")
    )
    return res.select(
        "node",
        F.when(F.col("f_scc"), F.lit("SCC"))
        .when(F.col("f_in"), F.lit("IN"))
        .when(F.col("f_out"), F.lit("OUT"))
        .when(F.col("f_weak").isNull(), F.lit("DISCONNECTED"))
        .when(F.col("f_tf") & F.col("f_tb"), F.lit("TUBE"))
        .when(F.col("f_tf"), F.lit("TENDRIL_IN"))
        .when(F.col("f_tb"), F.lit("TENDRIL_OUT"))
        .otherwise(F.lit("OTHER"))
        .alias("component"),
    )
